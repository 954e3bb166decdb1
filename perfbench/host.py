"""Host-side helpers: provenance, the Spark-JVM guard, RSS sampling and
process teardown.  Everything here reads ``/proc``; nothing imports Spark.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

SPARK_MAIN_CLASS = "org.apache.spark.deploy.SparkSubmit"


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command, which may hold spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def foreign_spark_jvms() -> list[tuple[int, str]]:
    """Spark driver JVMs on this host that this process did not start."""
    mine = set(descendants(os.getpid()))
    found = []
    for name in os.listdir("/proc"):
        if name.isdigit() and int(name) not in mine:
            cmd = _cmdline(int(name))
            if SPARK_MAIN_CLASS in cmd:
                found.append((int(name), cmd[:160]))
    return found


def wait_for_no_spark_jvm(grace_s: float) -> float:
    """Wait up to ``grace_s`` for other Spark JVMs to exit (a predecessor
    run may still be shutting down).  Returns the seconds waited; raises
    ``RuntimeError`` naming the JVMs that are still alive.  A concurrent
    Spark application shares the four cores and would skew every number."""
    t0 = time.monotonic()
    while True:
        alive = foreign_spark_jvms()
        if not alive:
            return time.monotonic() - t0
        if time.monotonic() - t0 > grace_s:
            listing = "; ".join(f"pid {p}: {c}" for p, c in alive)
            raise RuntimeError(
                "another Spark JVM is alive, so timings would be shared with it "
                f"(timed-out runs leave orphans; stop it first): {listing}"
            )
        time.sleep(1.0)


def rss_mb(pids: list[int]) -> float:
    """Resident memory of ``pids`` summed without double counting: the
    proportional set size, which splits each shared page among its
    sharers.  Plain RSS counts a forked Python worker's pages shared with
    its daemon twice, and a JVM caught between fork and exec twice over."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class RssSampler:
    """Samples the summed RSS of this process's descendants (the driver JVM
    and its Python workers) on a background thread; ``peak_mb`` is the
    highest sum seen while the sampler ran."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak_mb = 0.0
        self.peak_jvm_mb = 0.0
        self.max_procs = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            pids = descendants(me)
            self.peak_mb = max(self.peak_mb, rss_mb(pids))
            jvm = [p for p in pids if SPARK_MAIN_CLASS in _cmdline(p)]
            self.peak_jvm_mb = max(self.peak_jvm_mb, rss_mb(jvm))
            self.max_procs = max(self.max_procs, len(pids))
            self.samples += 1
            self._stop.wait(self.period_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_ended(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended; SIGKILL what is left
    after ``timeout_s`` and wait for that too."""
    deadline = time.monotonic() + timeout_s
    while True:
        left = [p for p in pids if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout_s
        time.sleep(0.2)


def provenance(root: str) -> dict:
    import platform

    try:
        sha = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or "unknown (not a git checkout)"
    except (OSError, subprocess.SubprocessError):
        sha = "unknown (git unavailable)"
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    import pandas
    import pyarrow
    import pyspark

    return {
        "git_sha": sha,
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 1024 / 1024, 2),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
    }
