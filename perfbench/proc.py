"""Process-tree accounting from /proc: this Python process, its JVM and the Python workers."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:
        return None
    return data[data.rindex(")") + 2:].split()  # fields from "state" on


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User+system CPU of the tree, including reaped children."""
    total = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_peak_rss_mb() -> float:
    """Sum over the live tree of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, shut the JVM down and wait until every child process has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=timeout)
                except Exception:  # noqa: BLE001 — the JVM ignored its closed stdin
                    proc.kill()
                    proc.wait()
        deadline = time.monotonic() + timeout
        while len(tree_pids()) > 1 and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in tree_pids()[1:]:
            try:
                os.kill(pid, 9)
            except OSError:
                pass
