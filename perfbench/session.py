"""Host-sized SparkSession and the process-tree RSS sampler."""

from __future__ import annotations

import os
import sys
import threading


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


#: driver heap: this share of the host's RAM, capped
DRIVER_MEMORY_SHARE = 0.15
DRIVER_MEMORY_MAX_MB = 1024
#: shuffle partitions and default parallelism per core of the host
PARTITIONS_PER_CORE = 2


def host_partitions() -> int:
    return host_cores() * PARTITIONS_PER_CORE


def session_conf(cores: int, partitions: int, work: str) -> dict:
    """Session settings: ``local[cores]`` with ``partitions`` shuffle
    partitions, and a driver heap of ``DRIVER_MEMORY_SHARE`` of RAM capped at
    ``DRIVER_MEMORY_MAX_MB``. Every scratch path points inside ``work``."""
    mem = min(int(host_ram_mb() * DRIVER_MEMORY_SHARE), DRIVER_MEMORY_MAX_MB)
    tmp = os.path.join(work, "tmp")
    return {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": f"{mem}m",
        "spark.sql.shuffle.partitions": str(partitions),
        "spark.default.parallelism": str(partitions),
        "spark.sql.adaptive.enabled": "true",
        # At benchmark scale every shuffle is a few MB, which adaptive
        # coalescing (1 MB floor) would fold into one task; keep the
        # core-derived partition count so stages run as wide as they would
        # on production-sized inputs.
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # the traced run reads every stage and job of one run back
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "1000000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def prepare_env(root: str, work: str) -> None:
    """Python workers import the package from the checkout; temp files of
    the launcher and the workers stay inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))


def start_session(cores: int, partitions: int, work: str):
    """A session at ``local[cores]``. The partition count is separate, so a
    one-core rerun keeps the plan (tasks, buckets, files) of the host-sized
    run and only the core count changes."""
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in session_conf(cores, partitions, work).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, then end the gateway JVM (it exits when its stdin
    closes) and wait for it; the Python workers end with the session."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    proc.wait(timeout=60)


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
    except (FileNotFoundError, ProcessLookupError):
        pass
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def tree_rss_mb(root_pid: int) -> float:
    """RSS of ``root_pid`` plus all its descendants (the JVM and the Python
    worker daemon it forks), in MiB."""
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        total += _rss_kb(pid)
        stack.extend(_children(pid))
    return total / 1024


class RssSampler:
    """Samples the process-tree RSS of one root pid every ``interval`` s
    on a daemon thread while active; ``peak_mb`` is the largest sum seen."""

    def __init__(self, root_pid: int, interval: float = 0.05):
        self.root_pid = root_pid
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False
