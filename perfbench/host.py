"""Host guard, Spark session lifetime and process-tree sampling.

Everything the benchmark writes stays under the checkout's ``.bench_work``
directory: Spark local dirs, the warehouse, the JVM and Python temp dirs
and the event log all point there before the JVM starts.
"""

from __future__ import annotations

import os
import sys
import threading
import time

# engine knobs that change plans or memory; the benchmark pins them itself
# so a caller's environment cannot move the numbers
_PINNED_ENV = (
    "SPARK_GRAFT_AQE",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_BROADCAST_THRESHOLD",
    "SPARK_GRAFT_EXECUTOR_MEM",
    "SPARK_GRAFT_DRIVER_MEM",
)
_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")
_SAMPLE_S = 0.1


def host_facts() -> dict:
    """nproc (CPU affinity, as the ``nproc`` tool reports it) and RAM."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024}


class HostError(RuntimeError):
    """The host cannot run the benchmark as configured."""


def memory_mb(size: str) -> int:
    """A JVM/Spark size string (``8192m``, ``4g``) in MB."""
    size = size.strip().lower().rstrip("b")
    scale = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024**2}
    if size[-1:] in scale:
        return int(float(size[:-1]) * scale[size[-1]])
    return int(size) // 2**20


class Session:
    """One local[nproc] SparkSession with every path inside ``work_dir``.

    The engine sizes the driver heap from the master's core count; the
    session refuses to run (``HostError``) if that heap exceeds physical RAM.
    ``close`` stops Spark, shuts the Py4J gateway and waits for the JVM, so
    no process the benchmark started outlives it.
    """

    def __init__(self, work_dir: str, event_log: bool = False):
        import pyspark

        from ufo_dedup_spark.session import build_session

        facts = host_facts()
        self.nproc = facts["nproc"]
        self.master = f"local[{self.nproc}]"
        self.work_dir = work_dir
        self.local_dirs = os.path.join(work_dir, "spark-local")
        tmp = os.path.join(work_dir, "tmp")
        for d in (self.local_dirs, tmp):
            os.makedirs(d, exist_ok=True)
        for k in _PINNED_ENV:
            os.environ.pop(k, None)
        os.environ.update(
            {
                "SPARK_GRAFT_CPUS": str(self.nproc),
                "SPARK_GRAFT_JAVA_OPTS": f"-Djava.io.tmpdir={tmp}",
                "SPARK_LOCAL_DIRS": self.local_dirs,
                "PYSPARK_PYTHON": sys.executable,
                "TMPDIR": tmp,
            }
        )
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        }
        self.event_dir = None
        if event_log:
            self.event_dir = os.path.join(work_dir, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    # one plain JSON-lines file per application
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.compress": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = build_session(
            app_name="perfbench", master=self.master, extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.build_s = time.perf_counter() - t0
        self.pyspark_version = pyspark.__version__
        self.heap = self.spark.conf.get("spark.driver.memory")
        if memory_mb(self.heap) > facts["mem_total_mb"]:
            self.close()
            raise HostError(
                f"driver heap {self.heap} exceeds physical RAM "
                f"({facts['mem_total_mb']} MB) on {self.master}"
            )

    def describe(self) -> dict:
        return {
            "nproc": self.nproc,
            "master": self.master,
            "driver_heap": self.heap,
            "spark_local_dirs": self.local_dirs,
            "pyspark": self.pyspark_version,
        }

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)


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
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all of its descendants."""
    kids = _children_map()
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_usage(pids: list[int]) -> tuple[float, float]:
    """(resident MB, CPU seconds) summed over ``pids``. CPU counts reaped
    children too, so a worker that exits is not lost from the total."""
    rss = cpu = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss += int(f.read().split()[1])
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        cpu += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return rss * _PAGE / 2**20, cpu / _TICK


class TreeSampler:
    """Context manager sampling the process tree's summed RSS every 0.1 s;
    ``peak_mb`` is the largest sum seen while it was open."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss, _ = tree_usage(process_tree())
            self.peak_mb = max(self.peak_mb, rss)
            self._stop.wait(_SAMPLE_S)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

