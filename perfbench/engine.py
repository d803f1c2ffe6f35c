"""Spark session lifetime, package shipping, memory sampling and run metadata.

Everything the benchmark writes at run time lives under ``perfbench/out/``
of the checkout it runs from: Spark's local dirs, the JVM and Python temp
dirs, the shipped package zip, generated inputs and pipeline outputs (all in
a per-process work dir removed on exit), plus the result and trace records
that are kept.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import threading
import time
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "chinese_corpus_cleaning_spark"
OUT_DIR = os.path.join(ROOT, "perfbench", "out")


def host_cores() -> int:
    """Cores this process may run on (``nproc`` without OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def physical_mem_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def driver_memory_mb() -> int:
    """Driver heap: a quarter of physical RAM, capped at 2 GB. In local mode
    the executors live inside the driver JVM, so this is the whole engine's
    heap; it stays well below physical RAM on a shared host."""
    return max(1024, min(2048, physical_mem_bytes() // (4 << 20)))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs:
    on a shared host, the rise of this over a run is the contention."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def source_digest() -> str:
    """sha256 over the package's .py sources (path + content), so a result
    names the code it measured even in a checkout without git."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for d, _dirs, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode() + b"\0")
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


class Workdir:
    """Per-process scratch tree under perfbench/out/; removed by close()."""

    def __init__(self) -> None:
        self.path = os.path.join(OUT_DIR, f"work-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        self.tmp = self.sub("tmp")
        # Python temp files (pyspark's gateway handshake, pyarrow) and the
        # worker processes the JVM forks inherit this
        os.environ["TMPDIR"] = self.tmp

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


class Engine:
    """One Spark session in its own JVM. ``stop()`` ends the JVM and waits
    for it and the Python workers it forked."""

    def __init__(self, work: Workdir, cores: int) -> None:
        from pyspark.sql import SparkSession

        self.cores = cores
        mem = driver_memory_mb()
        # every JVM started from here (spark-submit's launcher and the
        # driver) keeps its temp files in the work dir and writes no
        # hsperfdata file to the system temp dir
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={work.tmp} -XX:-UsePerfData"
        )
        self.spark = (
            SparkSession.builder.master(f"local[{cores}]")
            .appName("ccc-perfbench")
            # the confs bench.py pins, sized to this host
            .config("spark.sql.shuffle.partitions", str(cores))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
            .config("spark.driver.memory", f"{mem}m")
            # the whole heap is committed and touched at start, so peak RSS
            # does not depend on when the collector chose to grow the heap
            .config(
                "spark.driver.extraJavaOptions",
                f"-Xms{mem}m -XX:+AlwaysPreTouch",
            )
            .config("spark.ui.enabled", "false")
            .config("spark.sql.session.timeZone", "UTC")
            # keep every byte Spark writes inside the checkout
            .config("spark.local.dir", work.sub("spark-local"))
            .config("spark.sql.warehouse.dir", work.sub("warehouse"))
            .config("spark.ui.showConsoleProgress", "false")
            # the trace reads job and stage counters back from the status
            # store after a run; keep them all
            .config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
            .getOrCreate()
        )
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")

    def ship_package(self, work: Workdir) -> None:
        """Zip the package and add it to the workers' path, the local-mode
        form of ``spark-submit --py-files``."""
        zpath = os.path.join(work.sub("pyfiles"), f"{PACKAGE}.zip")
        with zipfile.ZipFile(zpath, "w") as zf:
            for d, _dirs, files in os.walk(os.path.join(ROOT, PACKAGE)):
                for f in files:
                    if f.endswith(".py"):
                        p = os.path.join(d, f)
                        zf.write(p, os.path.relpath(p, ROOT))
        self.sc.addPyFile(zpath)

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        started = descendants(os.getpid())
        self.spark.stop()
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # the JVM exits when its stdin closes
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        wait_for_exit(started)


def _children() -> dict[int, int]:
    """pid -> ppid for every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command field may contain spaces; fields resume after ')'
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    parent = _children()
    kids: dict[int, list[int]] = {}
    for p, pp in parent.items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_for_exit(pids: list[int], timeout: float = 60.0) -> None:
    """Wait until every process in ``pids`` has exited. The Python workers
    the JVM forked are re-parented when it exits, so they are named up
    front rather than found as descendants afterwards."""
    deadline = time.monotonic() + timeout
    while True:
        live = [p for p in pids if _alive(p)]
        if not live:
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running: {live}")
        time.sleep(0.1)


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak RSS of this process plus all its descendants (driver Python, the
    JVM and the Python workers), sampled from /proc every ``interval`` s
    between start() and stop(). ``parts`` splits the peak sample into the
    driver, the JVM (its direct child) and the rest, with their count."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self.parts: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        kids = descendants(me)
        parent = _children()
        rss = {p: _rss_bytes(p) for p in [me, *kids]}
        total = sum(rss.values())
        if total > self.peak:
            jvm = [p for p in kids if parent.get(p) == me]
            self.peak = total
            self.parts = {
                "driver_mb": rss[me] / (1 << 20),
                "jvm_mb": sum(rss[p] for p in jvm) / (1 << 20),
                "workers_mb": sum(rss[p] for p in kids if p not in jvm) / (1 << 20),
                "workers": len(kids) - len(jvm),
            }

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> RssSampler:
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        return self.peak / (1 << 20)
