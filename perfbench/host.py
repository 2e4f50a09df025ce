"""Host facts, peak-RSS sampling from ``/proc``, and JVM shutdown."""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import sys
import threading
import time

PAGE_MB = os.sysconf("SC_PAGE_SIZE") / (1024 * 1024)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def host_info(root: str, master: str) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "master": master,
        "loadavg_before": list(os.getloadavg()),
        "git_commit": git_commit(root),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "platform": platform.platform(),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces or parentheses: split after the last ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie awaiting its reaper counts as ended."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2:][:1] != b"Z"


def rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError):
            continue
    return total * PAGE_MB


CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_s(pids: list[int]) -> float:
    """User plus system CPU seconds of ``pids`` and their reaped children."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2:].split()
        # utime, stime, and those of reaped children (exited Python workers)
        total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


def vm_cpu_s() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of the whole VM so far, summed over its
    CPUs: busy is user, nice, system, irq and softirq time; stolen is time
    a runnable CPU waited while the hypervisor ran other guests."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields
    return (user + nice + system + irq + softirq) / CLK_TCK, steal / CLK_TCK


def jvm_proc():
    """The py4j gateway's JVM process (launched by PySpark), or None."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def spark_pids() -> list[int]:
    """This process, the JVM and the JVM's Python workers."""
    proc = jvm_proc()
    return [os.getpid()] + (descendants(proc.pid) if proc is not None else [])


class RssSampler:
    """Peak summed RSS of this process and the JVM's process tree (the JVM
    and its Python workers), sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> float:
        mb = rss_mb(spark_pids())
        self.peak_mb = max(self.peak_mb, mb)
        return mb

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self.peak_mb = 0.0
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()
        return self.peak_mb


def shutdown_jvm(timeout: float = 30.0) -> None:
    """Stop the py4j JVM and wait until it and every process it started
    (Python workers) have exited."""
    from pyspark import SparkContext

    proc = jvm_proc()
    if proc is None:
        return
    tree = descendants(proc.pid)
    SparkContext._gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout)
    deadline = time.monotonic() + timeout
    running = [p for p in tree if alive(p)]
    while running and time.monotonic() < deadline:
        time.sleep(0.05)
        running = [p for p in running if alive(p)]
    for p in running:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if running:
        print(f"killed {len(running)} lingering Spark processes", file=sys.stderr)
