"""Spark session sized for the host, confined to the checkout, plus the
process-tree helpers the benchmark uses to read memory and to stop every
process it started.

Everything the session writes (shuffle/spill dirs, JVM temp files,
Python temp files, the warehouse dir) lands under one work directory
inside the checkout, which the benchmark removes when it ends.
"""

from __future__ import annotations

import os
import threading
import time

# Driver heap: on a 4-core / 15 GB host a run peaks at about 4.2 GB in
# all: 2.7 GB of JVM with this heap committed, 0.3 GB of Python driver and
# 8 Python workers of 130-200 MB, which leaves most of the box to the
# page cache the stores use.
DRIVER_MEMORY = "2g"


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def confine_env(work: str, repo_root: str) -> None:
    """Point every temp/scratch location at ``work`` and make the repo
    importable from Python workers started in any working directory
    (workers inherit the JVM's environment, which inherits ours)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    paths = [repo_root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    # -XX:-UsePerfData keeps every JVM (the launcher too) from writing
    # hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def make_session(work: str, cores: int):
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder
             .master(f"local[{cores}]")
             .appName("geojson-vt-spark-perfbench")
             .config("spark.driver.memory", DRIVER_MEMORY)
             # a fully committed heap keeps the JVM's resident set (and so
             # peak_rss_mb) independent of when the collector grows it
             .config("spark.driver.extraJavaOptions",
                     f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch")
             .config("spark.sql.shuffle.partitions", str(cores))
             .config("spark.default.parallelism", str(cores))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
             .config("spark.scheduler.mode", "FAIR")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
             .config("spark.sql.parquet.compression.codec", "zstd")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             # the traced run reads job/stage/task counts back from the
             # status store at the end; keep every job of a run
             .config("spark.ui.retainedJobs", "100000")
             .config("spark.ui.retainedStages", "100000")
             .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
             .config("spark.local.dir", os.path.join(work, "spark-local"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, descendants: list[int]) -> None:
    """Stop Spark, end the gateway JVM and wait until every process the
    run started (JVM, Python daemon and workers) is gone."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - must not leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 15
    alive = [p for p in descendants if _alive(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _alive(p)]
    for pid in alive:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return False


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants, read from /proc."""
    kids = _children_map()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


class RssSampler:
    """Peak of the summed resident set of this process, the JVM and its
    Python workers, sampled from /proc (psutil is not available)."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.peak_by_pid: dict[int, int] = {}
        self.names: dict[int, str] = {}
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def _sample(self) -> None:
        pids = process_tree(os.getpid())
        self.seen.update(pids)
        kb = {}
        for p in pids:
            # re-read: the JVM starts as the launcher script and execs
            try:
                with open(f"/proc/{p}/comm") as fh:
                    self.names[p] = fh.read().strip()
            except OSError:
                continue
            # only the JVM and Python processes: a child the JVM forks
            # (to run chmod, say) shares the JVM's pages until it execs,
            # and counting it would add the whole heap a second time
            if self.names[p] == "java" or self.names[p].startswith("python"):
                kb[p] = _rss_kb(p)
                self.peak_by_pid[p] = max(self.peak_by_pid.get(p, 0), kb[p])
        self.peak_kb = max(self.peak_kb, sum(kb.values()))

    def breakdown(self) -> str:
        """Peak MB per process, by command name."""
        me = os.getpid()
        return " ".join(f"{'self' if p == me else self.names[p]}:{v // 1024}"
                        for p, v in sorted(self.peak_by_pid.items()))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._sample()
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_kb / 1024.0

    def descendants(self) -> list[int]:
        me = os.getpid()
        return sorted(p for p in self.seen | set(process_tree(me)) if p != me)
