"""Host sizing for the session, load stamps, and memory readings (peak
RSS sampled from ``/proc``, the JVM's live heap).

The session is sized through the environment variables the program
already reads (``SPARK_DRIVER_MEMORY``, ``SPARK_GRAFT_CPUS``,
``SPARK_LOCAL_DIRS``), so ``session.py`` runs unchanged.
"""

from __future__ import annotations

import gc
import os
import shlex
import signal
import subprocess
import threading
import time

#: heap ceiling; the inputs are small, and the machine's memory is shared
DRIVER_MEMORY_CAP_MB = 4096


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def session_env(root: str, work: str) -> dict[str, str]:
    """Environment for a session sized to the machine it runs on, rooted in
    ``work``.

    ``PYTHONPATH`` must name the checkout: Python workers unpickle the
    MapReduce shim's job closures by module path.  Temporary files of the
    JVM and of Python go under ``work`` so a run writes only there."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    pythonpath = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    return {
        "SPARK_DRIVER_MEMORY": f"{min(mem_total_mb() // 2, DRIVER_MEMORY_CAP_MB)}m",
        # one core is left to the driver thread, the JIT compiler and GC
        "SPARK_GRAFT_CPUS": str(max(1, len(os.sched_getaffinity(0)) - 1)),
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": pythonpath,
        "TMPDIR": tmp,
        # no hsperfdata file under /tmp; the JVM's temp dir is the run's
        "PYSPARK_SUBMIT_ARGS": (
            "--driver-java-options "
            f"{shlex.quote(f'-XX:-UsePerfData -Djava.io.tmpdir={tmp}')} pyspark-shell"
        ),
    }


def heap_live_mb(spark, rounds: int = 12, settle_s: float = 0.3) -> list[float]:
    """Driver JVM heap in use after full garbage collections: the state the
    session retains (memoized artifacts, cached plans, status data),
    without the garbage that peak RSS also counts.  Each round collects
    Python first, so that py4j releases the JVM objects its dead proxies
    held, then the JVM; the pause between rounds lets Spark's cleaner
    thread release what the previous collection made unreachable, which the
    next one frees.  Rounds go on until three readings in a row agree
    within 0.5 MB.  Returns every reading; the value is the smallest."""
    jvm = spark._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    readings: list[float] = []
    for _ in range(rounds):
        gc.collect()
        jvm.java.lang.System.gc()
        readings.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
        if len(readings) >= 3 and max(readings[-3:]) - min(readings[-3:]) < 0.5:
            break
        time.sleep(settle_s)
    return readings


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


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
        # the command name may contain spaces; fields resume after ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _start_time(pid: int) -> str | None:
    """Start time of a live process (for telling a reused pid apart), or
    None once it has ended; a zombie has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in ("Z", "X") else fields[19]


def descendants(root_pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _wait_gone(procs: dict[int, str], timeout_s: float) -> dict[int, str]:
    """Poll until each (pid, start time) has ended; returns those that have not."""
    deadline = time.monotonic() + timeout_s
    while True:
        procs = {pid: st for pid, st in procs.items() if _start_time(pid) == st}
        if not procs or time.monotonic() >= deadline:
            return procs
        time.sleep(0.05)


def stop_processes(timeout_s: float = 20.0) -> list[int]:
    """Stop the Spark JVM this process launched and every process beneath
    it (the Python workers and their daemon), and wait until each has
    ended.  Safe to call with no session, or after ``spark.stop()``.
    Returns the pids still alive after SIGKILL: none, normally."""
    # snapshot the whole tree first: once the JVM ends, its workers are
    # re-parented and no longer found beneath this process
    tree = {pid: st for pid in descendants(os.getpid()) if (st := _start_time(pid))}
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # noqa: BLE001 - the JVM is stopped below either way
            pass
    gateway = SparkContext._gateway
    if gateway is not None:
        SparkContext._gateway = SparkContext._jvm = None
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # the JVM exits when its stdin closes; SIGTERM still runs its
            # shutdown hooks, which remove Spark's local directories
            try:
                proc.stdin.close()
            except (AttributeError, OSError):
                pass
            try:
                proc.wait(timeout=timeout_s / 2)
            except subprocess.TimeoutExpired:
                proc.terminate()
                try:
                    proc.wait(timeout=timeout_s / 2)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
    tree.update((pid, st) for pid in descendants(os.getpid()) if (st := _start_time(pid)))
    left = _wait_gone(tree, 2.0)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        left = _wait_gone(left, timeout_s / 2)
        if not left:
            break
    return sorted(left)


def tree_rss_mb(root_pid: int) -> tuple[float, float]:
    """Resident memory of the descendants of ``root_pid`` (not itself), as
    (children, deeper descendants): for the benchmark process, the driver
    JVM and its Python workers."""
    kids = _children_map()
    children = sum(_rss_kb(pid) for pid in kids.get(root_pid, []))
    deeper, todo = 0, [k for pid in kids.get(root_pid, []) for k in kids.get(pid, [])]
    while todo:
        pid = todo.pop()
        deeper += _rss_kb(pid)
        todo.extend(kids.get(pid, []))
    return children / 1024, deeper / 1024


class PeakRss:
    """Samples ``tree_rss_mb(os.getpid())`` on a thread until stopped;
    keeps the peak of the sum and the peak of each part."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = self.peak_jvm_mb = self.peak_workers_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        jvm, workers = tree_rss_mb(os.getpid())
        self.peak_mb = max(self.peak_mb, jvm + workers)
        self.peak_jvm_mb = max(self.peak_jvm_mb, jvm)
        self.peak_workers_mb = max(self.peak_workers_mb, workers)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
