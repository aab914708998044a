"""No process a run starts outlives it, even one that leaves the
process group it was started in (as the PySpark daemon does)."""

import os
import subprocess
import sys
import textwrap

HERE = os.path.dirname(os.path.abspath(__file__))

# Runs in a process of its own: a subreaper would also adopt and kill
# the test session's Spark JVM. It starts a child in a new session; the
# child starts a grandchild that moves to a process group of its own,
# and exits, leaving it orphaned (as the JVM leaves the PySpark daemon).
# Then it stops every process below it and prints the two pids.
SCRIPT = textwrap.dedent(
    """
    import os, subprocess, sys
    sys.path.insert(0, sys.argv[1])
    import proctree

    proctree.become_subreaper()
    grandchild = (
        "import os, time; os.setpgid(0, 0); print(os.getpid(), flush=True); time.sleep(60)"
    )
    child = subprocess.Popen(
        [sys.executable, "-c",
         f"import subprocess, sys; subprocess.Popen([sys.executable, '-c', {grandchild!r}])"],
        stdout=subprocess.PIPE, text=True, start_new_session=True,
    )
    gpid = int(child.stdout.readline())
    child.wait()
    print(child.pid, gpid, proctree.stop_descendants(), flush=True)
    """
)


def _alive(pid: int) -> bool:
    """Whether ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def test_stop_descendants_reaches_other_process_groups():
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT, os.path.dirname(HERE)], capture_output=True, text=True, timeout=30
    )
    assert out.returncode == 0, out.stderr
    child, grandchild, stopped = out.stdout.split()
    assert stopped == "True"
    assert not _alive(int(child)) and not _alive(int(grandchild))
