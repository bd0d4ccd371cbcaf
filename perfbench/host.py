"""Host fitting, host context, process-tree memory sampling and cleanup.

Everything here reads ``/proc`` directly: the benchmark measures the
Spark driver JVM and its Python daemon/workers, which are descendants of
the benchmark process.
"""

from __future__ import annotations

import hashlib
import os
import signal
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def fit_session_env(work: str) -> dict[str, str]:
    """Environment ``session.get_spark`` reads, sized from this host.

    Spark gets half the host's cores: the driver JVM's own threads
    (scheduler, GC, JIT), the benchmark process and its memory sampler
    run on the rest, and so does whatever else shares the host. On a
    4-core virtual machine two busy-loop processes slowed an
    ``era5_rechunk`` operation by 41% with 3 task slots and by 23% with 2.

    The library default heap (24g) exceeds many hosts' RAM; an unbounded
    local[N] JVM grows until the kernel kills it. The workloads need well
    under 1 GiB of heap, so the heap is 2 GiB, or a fifth of RAM on a
    smaller host, which leaves room for N Python workers. It is committed
    and touched at start: otherwise G1 grows it to a size that differs
    from run to run (3.1 to 3.7 GB of RSS on one 4-core host), and that,
    not the engine, would set the spread of the measured resident memory.

    The JVM compiles with C1 only (``TieredStopAtLevel=1``). With C2, on a
    4-core host, the CPU time of an ``xb_queries`` pass kept falling for
    about a hundred queries (10.5 to 5.5 s) while C2 compiled Catalyst in
    the background, so a run's figures depended on how far the JIT had got
    and on how much CPU the host left it. With C1 the CPU time per pass is
    nearly flat after the first pass. JVM-side work then runs as C1 code,
    so absolute times differ from a default JVM's; the benchmark compares
    library code on the same JVM settings.
    """
    heap = f"{max(1, min(2, mem_total_bytes() // 5 // 2**30))}g"
    tmp = os.path.join(work, "tmp")
    env = {
        "SPARK_GRAFT_CPUS": str(max(1, cpu_count() // 2)),
        "SPARK_DRIVER_MEMORY": heap,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Xms{heap} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # every temp file the run makes (pyfiles zip, gate stores, the
        # JVM's own temp files) stays inside the working directory
        "TMPDIR": tmp,
        "XBS_CACHE_DIR": os.path.join(work, "xbs-cache"),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR", "XBS_CACHE_DIR"):
        os.makedirs(env[key], exist_ok=True)
    return env


def cpu_steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot: on a virtual machine,
    the steal share over a run tells host contention from a slow build."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def source_digest(root: str) -> str:
    """Digest of the library sources: identifies the code under test when
    the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "xarray_beam_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def context(root: str, seed: int, env: dict[str, str]) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "commit": git_commit(root),
        "source_digest": source_digest(root),
        "nproc": cpu_count(),
        "mem_total_mb": round(mem_total_bytes() / 1e6),
        "loadavg_start": list(os.getloadavg()),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "seed": seed,
        "session_env": {
            k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "PYSPARK_SUBMIT_ARGS")
        },
    }


_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int, int, float]]:
    """pid -> (ppid, rss bytes, start time, CPU seconds of the process
    and its reaped children) for every live process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # comm may hold spaces/parens: fields resume after the last ')'
        fields = stat[stat.rfind(")") + 2 :].split()
        cpu = sum(int(v) for v in fields[11:15]) / _TICK  # utime stime cutime cstime
        table[int(name)] = (int(fields[1]), int(fields[21]) * _PAGE, int(fields[19]), cpu)
    return table


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    driver JVM, the Python daemon and workers): a worker that exited is
    counted in its parent's reaped-children time."""
    table = _proc_table()
    pid = os.getpid()
    return sum(table[p][3] for p in [pid, *descendants(pid, table)] if p in table)


def descendants(pid: int, table: dict[int, tuple]) -> list[int]:
    children: dict[int, list[int]] = {}
    for p, (pp, *_) in table.items():
        children.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM, the
    Python daemon and its workers), sampled by one thread at a fixed
    interval. ``reset`` starts a new peak window."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        # pid -> start time, so cleanup never signals a reused pid
        self.seen: dict[int, int] = {}
        self._lock = threading.Lock()  # the sampler thread and callers update the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        with self._lock:
            self.peak_bytes = 0

    def sample(self) -> int:
        table = _proc_table()
        pids = descendants(os.getpid(), table)
        self.seen.update((p, table[p][2]) for p in pids)
        total = sum(table[p][1] for p in pids if p in table)
        with self._lock:
            self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it; Spark's
    Python daemon and workers exit with it."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None) if SparkContext._gateway else None
    spark.stop()
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def reap(seen: dict[int, int], timeout_s: float = 10.0) -> None:
    """Terminate any process in ``seen`` (pid -> start time) that is still
    alive, such as a worker that outlived the JVM, and wait until each
    has exited."""
    table = _proc_table()
    live = [p for p, start in seen.items() if p in table and table[p][2] == start]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in live:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout_s
        while live and time.monotonic() < deadline:
            for p in live:
                try:
                    os.waitpid(p, os.WNOHANG)  # reaps our own children
                except ChildProcessError:
                    pass
            live = [p for p in live if _alive(p)]
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"
