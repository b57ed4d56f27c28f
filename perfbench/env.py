"""Host settings shared by the harness and its child processes, and the
child-process runner.

Driver memory: ``session.get_spark`` defaults ``spark.driver.memory`` to 16g,
more than a 15 GB host has; in-session runs with that default were OOM-killed
by the kernel. The benchmark passes 3g, which leaves room for the Python
workers and for other tenants of the host.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import time

NPROC = len(os.sched_getaffinity(0))
# Half the cores: every Spark task thread drives a Python worker process, and
# the JVM's compiler and GC threads need cores too. On a 4-vCPU host, local[4]
# ran the mixed workload slower (median op 15.0 s against 11.8 s) and with a
# wider spread across runs than local[2].
MASTER = f"local[{max(1, NPROC // 2)}]"
DRIVER_MEMORY = "3g"
DRIVER_MEMORY_WHY = (
    "get_spark defaults spark.driver.memory to 16g, above this host's RAM; "
    "with it the kernel OOM-killed the JVM, so the benchmark passes 3g"
)


def spark_conf() -> dict[str, str]:
    return {"spark.driver.memory": DRIVER_MEMORY}


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the JVM this process launched."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")


def host_facts() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    import pyspark

    return {
        "nproc": NPROC,
        "master": MASTER,
        "mem_total_gb": round(mem_kb / (1 << 20), 1),
        "driver_memory": DRIVER_MEMORY,
        "driver_memory_why": DRIVER_MEMORY_WHY,
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
    }


def child_env(root: str, work: str) -> dict[str, str]:
    """Environment for child processes: the checkout on PYTHONPATH (Spark's
    Python workers import the package from there) and every temporary
    directory, the JVMs' included, inside the work directory."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join([root, os.path.dirname(os.path.abspath(__file__))]),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONUNBUFFERED="1",
    )
    return env


def become_subreaper() -> None:
    """Orphaned descendants (the JVM, Spark's Python workers) re-parent to
    this process, so ``reap`` can wait for every one of them to end."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap(pgid: int, deadline_s: float = 20.0) -> None:
    """Kill what is left of process group ``pgid`` and wait for all children."""
    end = time.monotonic() + deadline_s
    while True:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no children left
        if time.monotonic() > end:
            raise RuntimeError(f"children of process group {pgid} did not exit")
        time.sleep(0.05)


def run_child(args: list[str], env: dict, cwd: str, log_path: str, timeout_s: float) -> dict:
    """Run one child in its own process group; returns exit code (a negative
    signal number if killed: -9 for an OOM-kill or our timeout), wall and
    whether it timed out. Every process it started has ended on return."""
    t0 = time.perf_counter()
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(
            [sys.executable, *args], env=env, cwd=cwd, stdout=log, stderr=log,
            start_new_session=True,
        )
        timed_out = False
        try:
            rc = proc.wait(timeout=max(1.0, timeout_s))
        except subprocess.TimeoutExpired:
            timed_out = True
            os.killpg(proc.pid, signal.SIGKILL)
            rc = proc.wait()
        finally:
            reap(proc.pid)
    return {"rc": rc, "wall_s": time.perf_counter() - t0, "timed_out": timed_out}
