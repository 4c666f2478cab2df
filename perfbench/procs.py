"""Process-tree bookkeeping from /proc: peak RSS and orderly shutdown.

The benchmark's process tree is this Python process, the Spark driver JVM it
launches and the Python workers the JVM forks.  Peak RSS is read from each
process's VmHWM after resetting it through ``/proc/<pid>/clear_refs``, so a
reading covers only the interval since the reset.

The supervising process of a run is a child subreaper: a descendant whose
parent ends is re-parented to it rather than to init, so :func:`reap_tree`
finds and ends every process the run started, however it was started.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_PR_SET_PDEATHSIG = 1
_PR_SET_CHILD_SUBREAPER = 36
# loaded here, not in a preexec_fn, where a forked child must not dlopen
_libc = ctypes.CDLL(None, use_errno=True)


def _prctl(option: int, arg: int) -> None:
    if _libc.prctl(option, arg, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl({option}): {os.strerror(err)}")


def become_subreaper() -> None:
    """Adopt this process's orphaned descendants (Linux only)."""
    _prctl(_PR_SET_CHILD_SUBREAPER, 1)


def die_with_parent() -> None:
    """``preexec_fn`` for a child that must not outlive its parent."""
    _prctl(_PR_SET_PDEATHSIG, signal.SIGKILL)


def _ppid_and_state(pid: int) -> tuple[int, str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may itself contain spaces
    fields = stat[stat.rindex(")") + 2 :].split()
    return int(fields[1]), fields[0]


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            info = _ppid_and_state(int(name))
            if info is not None and info[1] != "Z":
                children.setdefault(info[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def reset_peaks(pids: list[int]) -> None:
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # the process ended, or the kernel refuses the reset


def peak_rss_mb(pids: list[int]) -> float:
    """Sum over ``pids`` of each process's peak RSS since its last reset."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit.  The Python
    worker daemon exits when the JVM does; :func:`reap_tree` in the
    supervisor ends whatever is still running after that."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        # the JVM exits when its stdin reaches EOF
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def reap_tree(timeout_s: float) -> list[int]:
    """SIGKILL every live descendant of this process and reap its children
    until none is left, or ``timeout_s`` passes.  Returns the pids killed.

    In a subreaper, the children of a killed process are re-parented here,
    so each pass finds what the previous one orphaned."""
    killed: list[int] = []
    deadline = time.monotonic() + timeout_s
    while True:
        live = [p for p in tree() if p != os.getpid()]
        for pid in live:
            try:
                os.kill(pid, signal.SIGKILL)
                killed.append(pid)
            except OSError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0] != 0:
                pass
        except ChildProcessError:  # no children left, not even zombies
            if not live:
                return killed
        if time.monotonic() > deadline:
            return killed
        time.sleep(0.05)


def steal_s() -> float:
    """Cumulative hypervisor steal time of this host, in seconds."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
