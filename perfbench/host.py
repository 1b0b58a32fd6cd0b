"""Host stamps and process-tree accounting for one benchmark run.

psutil is not available, so everything here reads /proc directly:

- the 1-minute load average and the CPU steal share over the run
  (bench.py's own /proc/stat probe), so a same-code swing can be attributed
  to co-tenants instead of guessed;
- the peak resident memory of the whole process tree (this driver, the
  Spark JVM it launches and the JVM's Python workers), sampled on a
  background thread because workers come and go between samples. Each
  process counts its proportional set size (PSS: shared pages split
  among the processes sharing them), so the forked Python workers do not
  count the pages they share with their parent again.
"""

from __future__ import annotations

import os
import subprocess
import threading
import time

from bench import _cpu_sample


class HostStamp:
    """Load average at the start of a run and CPU steal across it."""

    def __init__(self) -> None:
        self.load1 = os.getloadavg()[0]
        self._steal0, self._total0 = _cpu_sample()

    def steal_pct(self) -> float:
        steal1, total1 = _cpu_sample()
        return 100.0 * (steal1 - self._steal0) / max(total1 - self._total0, 1)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the comm field may hold spaces; ppid follows its ")"
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process ended between listing and reading
        pass
    return 0


class TreeRssSampler:
    """Peak of the summed PSS of this process and all its descendants."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in tree_pids(os.getpid())))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "TreeRssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM that pyspark launched, and wait for
    it (and with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is None:
        return
    # the JVM exits on EOF of its stdin (its parent's pipe)
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    # anything still parented to us (a worker orphaned mid-exit)
    deadline = time.monotonic() + 10
    while len(tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
