"""Host side of a benchmark run: keep every file the run writes inside the
work directory, stamp the run with the machine's state, sample the memory
of the whole process tree, and stop the processes the run started."""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def confine(work: str, repo_root: str) -> dict[str, str]:
    """Point every temp/scratch location of Python, the JVM, Spark and the
    Python workers at `work`, put the repo root on the workers' module
    path, and size the driver heap to the box. Must run before pyspark
    starts its JVM. Returns the settings it made, for the run stamp."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    settings = {
        "TMPDIR": tmp,
        # Python workers import tez_spark; they start from the JVM's
        # environment, not this interpreter's sys.path.
        "PYTHONPATH": repo_root + (os.pathsep + path if path else ""),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # both the launcher JVM and the driver JVM: temp files under
        # `work`, and no hsperfdata files in the system temp directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "TEZ_SPARK_DRIVER_MEM": driver_mem(),
    }
    os.environ.update(settings)
    import tempfile

    tempfile.tempdir = tmp
    return settings


def driver_mem() -> str:
    """Driver heap for local mode: a quarter of physical memory, 1-4 GiB.
    The engine's default (48g) would let the heap outgrow a small box."""
    total_gb = os.sysconf("SC_PHYS_PAGES") * PAGE / 2**30
    return f"{max(1, min(4, int(total_gb / 4)))}g"


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def stamp(cpus: int, settings: dict[str, str], jiffies0: tuple[int, int]) -> dict:
    """Machine state for one run: cpus, driver memory, steal share since
    `jiffies0`, load average, and the Spark and Python versions."""
    import pyspark

    steal1, total1 = cpu_jiffies()
    dt = total1 - jiffies0[1]
    return {
        "cpus": cpus,
        "driver_mem": settings["TEZ_SPARK_DRIVER_MEM"],
        "steal_pct": round(100.0 * (steal1 - jiffies0[0]) / dt, 2) if dt > 0 else 0.0,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


def _stat(pid) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (which may hold
    spaces): [0] state, [1] ppid, [19] start time."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def tree(root: int) -> list[tuple[int, str]]:
    """(pid, start time) of `root` and all its live descendants; the start
    time tells a process from a later one that reuses its pid."""
    kids: dict[int, list[tuple[int, str]]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(d)
            if st and len(st) > 19:
                kids.setdefault(int(st[1]), []).append((int(d), st[19]))
    out, todo = [], [(root, "")]
    while todo:
        proc = todo.pop()
        out.append(proc)
        todo.extend(kids.get(proc[0], []))
    return out


def rss_bytes(procs) -> int:
    total = 0
    for pid, _ in procs:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


def _cmdline(pid) -> bytes | None:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return None


def own_memory(procs) -> list[tuple[int, str]]:
    """`procs` without the children a JVM is spawning. The JVM starts a
    child (Hadoop runs chmod and readlink for every file the ingest
    workload writes) with clone(CLONE_VM): until the child execs, it
    shares the JVM's memory, shows the JVM's command line and reports all
    of the JVM's resident pages. A JVM never forks a copy of itself, so a
    child with its parent JVM's command line is always such a child."""
    cmd = {pid: _cmdline(pid) for pid, _ in procs}
    out = []
    for pid, start in procs:
        st = _stat(pid)
        parent = cmd.get(int(st[1])) if st else None
        if (parent and parent == cmd[pid]
                and os.path.basename(parent.split(b"\0", 1)[0]) == b"java"):
            continue
        out.append((pid, start))
    return out


class TreeMemory:
    """Samples the resident memory of this process and all descendants
    (driver, JVM, Python workers) from a daemon thread; `peak` is the
    largest sum seen, each address space counted once (`own_memory`).
    `procs` keeps every process ever seen in the tree, so the run can
    wait for each of them to end."""

    def __init__(self, every_s: float = 0.25):
        self.every_s = every_s
        self.peak = 0
        self.procs: set[tuple[int, str]] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "TreeMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def sample(self) -> None:
        procs = tree(os.getpid())
        self.procs.update(p for p in procs if p[0] != os.getpid())
        self.peak = max(self.peak, rss_bytes(own_memory(procs)))

    def _loop(self) -> None:
        while not self._stop.wait(self.every_s):
            self.sample()


def stop_spark(spark, procs, timeout_s: float = 60.0) -> None:
    """Stop the session, end the JVM it launched and wait until every
    process in `procs` has exited (SIGKILL after `timeout_s`)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout_s
    while True:
        alive = [pid for pid, start in procs if _alive(pid, start)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


def _alive(pid: int, start: str) -> bool:
    st = _stat(pid)
    return bool(st) and len(st) > 19 and st[19] == start and st[0] not in ("Z", "X")
