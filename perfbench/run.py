"""Benchmark entry point: one isolated, watched run of ``workloads.py``.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 6 --trace 0

Run from the root of a checkout.  Each run gets a fresh work directory under
``.perfbench/work`` that holds its pages, index, ``TMPDIR``,
``SPARK_LOCAL_DIRS`` and the JVM's ``java.io.tmpdir``; it is deleted when
the run ends.  This process is a child subreaper, so the JVM and Python
workers that ``workloads.py`` starts stay its descendants even if orphaned: a
run that outlives ``WATCHDOG_S`` is killed with all of them, and no process
of the run is left behind after a normal exit either.  The last line of
stdout is ``workloads.py``'s JSON result.
"""

from __future__ import annotations

import ctypes
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

WATCHDOG_S = 170
PR_SET_CHILD_SUBREAPER = 36


def driver_memory() -> str:
    """An eighth of host memory, within [1g, 4g]: the package default (48g)
    assumes a large host."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    mb = min(4096, max(1024, total_kb // 1024 // 8))
    return f"{mb}m"


def descendants() -> list[int]:
    """Pids of every live descendant of this process."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def reap_all(grace_s: float) -> None:
    """Wait up to ``grace_s`` for descendants to exit, then SIGKILL and reap
    every one that is left."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = descendants()
        if not left:
            return
        if time.monotonic() >= deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def main() -> int:
    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")

    os.makedirs(os.path.join(root, ".perfbench", "work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(root, ".perfbench", "work"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_DRIVER_MEM=driver_memory(),
        PYSPARK_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",
        # the spark-submit launcher JVM: no hsperfdata files in /tmp
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    cmd = [sys.executable, os.path.join(here, "workloads.py"), *sys.argv[1:], "--work", work]
    # a SIGTERM to this process ends the run like the watchdog does
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    rc = 124
    child = subprocess.Popen(cmd, cwd=root, env=env, start_new_session=True)
    try:
        rc = child.wait(timeout=WATCHDOG_S)
    except subprocess.TimeoutExpired:
        print(f"watchdog: run exceeded {WATCHDOG_S}s, killing it", file=sys.stderr)
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()
        reap_all(grace_s=10 if rc == 0 else 0)
        shutil.rmtree(work, ignore_errors=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
