"""op_cpu_s counts the CPU time of the processes below the benchmark."""

import subprocess
import sys
import time

from run import cpu_s

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\n"


def test_cpu_of_a_running_child_is_counted():
    before = cpu_s()
    child = subprocess.Popen([sys.executable, "-c", BURN + "time.sleep(10)"])
    try:
        deadline = time.monotonic() + 5
        while cpu_s() - before < 0.25 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert child.poll() is None  # still alive: counted from its own stat
        assert cpu_s() - before >= 0.25
    finally:
        child.kill()
        child.wait()


def test_cpu_of_a_reaped_child_is_kept():
    before = cpu_s()
    subprocess.run([sys.executable, "-c", BURN], check=True)
    assert cpu_s() - before >= 0.25
