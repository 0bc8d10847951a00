import subprocess
import sys

from perfbench import proctree

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"

# A child that renames itself "java", burns CPU, runs a grandchild that burns
# CPU and exits, then waits for its stdin to close: the shape of the JVM and
# the Python workers it starts.
FAKE_JVM = (
    "import ctypes, subprocess, sys\n"
    "ctypes.CDLL(None).prctl(15, b'java', 0, 0, 0)\n"
    + BURN.format(s=0.3)
    + "subprocess.run([sys.executable, '-c', {burn!r}])\n"
    "print('ready', flush=True)\n"
    "sys.stdin.read()\n"
).format(burn=BURN.format(s=0.3))


def test_reaped_child_cpu_is_counted():
    before = proctree.snapshot()
    subprocess.run([sys.executable, "-c", BURN.format(s=0.4)], check=True)
    after = proctree.snapshot()
    assert (after - before).cpu_s >= 0.35


def test_roles_of_jvm_and_its_workers():
    before = proctree.snapshot()
    child = subprocess.Popen(
        [sys.executable, "-c", FAKE_JVM], stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True
    )
    try:
        assert child.stdout.readline().strip() == "ready"
        assert child.pid in proctree.descendants()
        live = proctree.snapshot() - before
        assert live.jvm_s >= 0.25  # the fake JVM's own burn
        assert live.pyworker_s >= 0.25  # the worker it reaped
        assert live.driver_s < 0.25
        assert live.jvm_mb > 0 and live.driver_mb > 0
    finally:
        child.stdin.close()
        child.wait(timeout=30)
    gone = proctree.snapshot() - before
    # once reaped by this process, all of it lands in the driver's account
    assert gone.cpu_s >= 0.5
    assert child.pid not in proctree.descendants()
