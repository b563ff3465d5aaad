"""A run leaves no process behind: ``run._stop_processes`` waits for, and
if need be kills, every descendant, including orphans whose parent has
already exited. Run with ``python3 -m pytest perfbench/test_cleanup.py``."""

import os
import subprocess
import sys

import run

SCRIPT = """
import subprocess, sys
import procstat, run
procstat.become_subreaper()
run.STOP_GRACE_S = 0.5
# a short-lived child, and an orphan that would outlive this process
subprocess.Popen(["sleep", "0.2"])
subprocess.run(["sh", "-c", "sleep 300 & echo $!"], check=True, stdout=sys.stdout)
sys.stdout.flush()
run._stop_processes()
print("left", procstat.descendants())
"""


def test_stop_processes_ends_orphans():
    out = subprocess.run([sys.executable, "-c", SCRIPT], cwd=run.HERE, check=True,
                         capture_output=True, text=True, timeout=60).stdout.split("\n")
    orphan = int(out[0])
    assert out[1] == "left []"
    assert not os.path.exists(f"/proc/{orphan}")
