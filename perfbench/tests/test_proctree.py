import os
import subprocess
import sys
import time

from perfbench.proctree import PeakRss, ProcTree

BURN = "import time\nt = time.time()\nwhile time.time() - t < 30: pass\n"
# a fake JVM: argv[0] is "java"; it forks one busy grandchild and burns too
FAKE_JVM = (
    "import subprocess, sys\n"
    f"subprocess.Popen([sys.executable, '-c', {BURN!r}])\n" + BURN
)


def _spawn_fake_jvm(tmp_path):
    java = tmp_path / "java"
    java.symlink_to(os.path.realpath(sys.executable))
    return subprocess.Popen([str(java), "-c", FAKE_JVM], start_new_session=True)


def test_tree_counts_jvm_descendants_and_skips_other_children(tmp_path):
    jvm = _spawn_fake_jvm(tmp_path)
    verifier = subprocess.Popen([sys.executable, "-c", BURN])
    tree = ProcTree(os.getpid())
    try:
        deadline = time.time() + 10
        while time.time() < deadline:
            m = tree.members()
            if m["jvm"] == [jvm.pid] and len(m["python"]) == 1:
                break
            time.sleep(0.05)
        m = tree.members()
        assert m["jvm"] == [jvm.pid]
        assert len(m["python"]) == 1
        assert verifier.pid not in m["jvm"] + m["python"]

        c0 = tree.sample()
        with PeakRss(tree) as rss:
            time.sleep(1.0)
        c1 = tree.sample()
        assert c1["jvm"] - c0["jvm"] > 0.5
        assert c1["python"] - c0["python"] > 0.5
        # the busy verifier is not in the tree: total CPU over 1 s of two
        # busy tree members stays well under three cores' worth
        assert c1["cpu"] - c0["cpu"] < 2.8
        assert rss.peak["rss_mb"] >= rss.peak["rss_jvm"] > 0
    finally:
        for p in (jvm, verifier):
            os.killpg(p.pid, 9) if p is jvm else p.kill()
            p.wait(10)


# a parent that exits at once, leaving a grandchild that has moved to a
# process group of its own (as pyspark.daemon does) with a child of its own
ESCAPER = (
    "import os, subprocess, sys, time\n"
    "if os.fork() == 0:\n"
    "    os.setpgid(0, 0)\n"
    "    p = subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(60)'])\n"
    "    print(os.getpid(), p.pid, flush=True)\n"
    "    time.sleep(60)\n"
    "    os._exit(0)\n"
)
STOPPER = (
    "import os, subprocess, sys\n"
    "from perfbench.proctree import become_subreaper, stop_descendants\n"
    "become_subreaper()\n"
    f"p = subprocess.Popen([sys.executable, '-c', {ESCAPER!r}], stdout=subprocess.PIPE, text=True)\n"
    "pids = p.stdout.readline().split()\n"
    "p.wait()\n"
    "stop_descendants()\n"
    "print(' '.join(pids))\n"
)


def test_stop_descendants_reaps_orphans_in_other_process_groups():
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    out = subprocess.run(
        [sys.executable, "-c", STOPPER], cwd=root, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    pids = [int(p) for p in out.stdout.split()]
    assert len(pids) == 2
    for p in pids:
        assert not os.path.exists(f"/proc/{p}")
