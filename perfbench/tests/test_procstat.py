import os
import subprocess
import sys
import time

import procstat


def _stat(pid, comm, ppid, utime, stime, cutime, cstime):
    fields = ["S", ppid] + [0] * 9 + [utime, stime, cutime, cstime] + [0] * 5
    return f"{pid} ({comm}) " + " ".join(str(f) for f in fields)


def test_parse_stat_handles_odd_process_names():
    line = _stat(42, "py (worker) x", 7, 100, 20, 3, 4)
    assert procstat.parse_stat(line) == (7, 127)


def test_tree_cpu_sums_only_the_tree():
    stats = {
        1: (0, 1000),    # init: not ours
        10: (1, 5),      # the benchmark
        11: (10, 50),    # the JVM
        12: (11, 7),     # a Python worker daemon under the JVM
        13: (12, 3),     # a worker it forked
        20: (1, 999),    # another tenant's process
    }
    assert sorted(procstat.descendants(10, stats)) == [10, 11, 12, 13]
    assert procstat.tree_cpu_ticks(10, stats) == 65


def test_reaped_child_cpu_stays_counted():
    before = procstat.tree_cpu_s()
    child = subprocess.Popen(
        [sys.executable, "-c", "import time\nt=time.process_time()\nwhile time.process_time()-t<0.6: pass"]
    )
    child.wait()  # reaped: its time moves into our cutime
    used = procstat.tree_cpu_s() - before
    assert 0.4 <= used <= 5.0


def test_live_child_cpu_is_counted_and_rss_positive():
    child = subprocess.Popen(
        [sys.executable, "-c", "import time\nt=time.process_time()\nwhile time.process_time()-t<5: pass"]
    )
    try:
        time.sleep(1.0)
        mine = procstat.tree_cpu_s()
        assert mine - procstat.tree_cpu_s(os.getpid()) <= 0.1
        assert procstat.tree_cpu_s(child.pid) >= 0.3
        assert procstat.tree_rss_mb() > procstat.tree_rss_mb(child.pid) > 0
    finally:
        child.kill()
        child.wait()


def test_host_noise_shares():
    before = (1000, 400, 10)
    after = (2000, 900, 60)  # 1000 ticks: 500 busy, 50 stolen
    own_s = 300 / procstat.TICK
    got = procstat.host_noise(before, after, own_s)
    assert got == {"steal_share": 0.05, "other_cpu_share": 0.2}
