"""SparkSession factory with the engine's frozen configs.

Explicit shuffle partitioning and AQE on (SURVEY.md §4); Arrow enabled for
all pandas/Arrow UDF boundaries. Local-mode defaults sized for this sandbox
(local[N] single JVM); on a real cluster the same code runs under
``spark-submit --py-files engine.zip`` with the master/memory flags coming
from the submit command instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_GIB = 1 << 30


def derive_driver_mem(limit_bytes: "int | None", memtotal_bytes: int,
                      slots: int) -> str:
    """Default ``spark.driver.memory`` for a local[N] driver: the box's
    usable memory (the cgroup limit when it is below MemTotal) less
    1 GiB for the OS and 512 MiB per task slot for the Python workers,
    halved for the JVM's off-heap use (metaspace, threads, Arrow
    buffers), clamped to [1 GiB, 31 GiB]. A heap ceiling above physical
    memory lets the heap outgrow RAM before a full GC runs, and the
    kernel OOM-kills the JVM."""
    total = memtotal_bytes
    if limit_bytes is not None and 0 < limit_bytes < total:
        total = limit_bytes
    heap = (total - _GIB - slots * (_GIB // 2)) // 2
    heap = max(_GIB, min(31 * _GIB, heap))
    return f"{heap >> 20}m"


def _read_int(path: str, prefix: str = "") -> "int | None":
    """First integer in ``path`` (after ``prefix`` on its line, when
    given); None when the file is absent or holds no number (cgroup v2
    writes "max" for no limit)."""
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(prefix):
                    tok = line[len(prefix):].split()
                    return int(tok[0]) if tok and tok[0].isdigit() \
                        else None
    except OSError:
        pass
    return None


def _driver_mem(slots: int) -> str:
    limit = (_read_int("/sys/fs/cgroup/memory.max")
             or _read_int("/sys/fs/cgroup/memory/memory.limit_in_bytes"))
    kb = _read_int("/proc/meminfo", "MemTotal:")
    total = kb * 1024 if kb else (limit or 8 * _GIB)
    return derive_driver_mem(limit, total, slots)


def get_spark(app: str = "fulltext-engine", master: str | None = None,
              shuffle_partitions: int | None = None,
              extra: dict | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    n = master.split("[")[-1].rstrip("]") if "[" in master else ""
    if shuffle_partitions is None:
        # match parallelism, not the 200 default (local mode)
        shuffle_partitions = 32 if n == "*" else max(
            8, int(n) if n.isdigit() else 8)
    slots = int(n) if n.isdigit() else (os.cpu_count() or 1)
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or _driver_mem(slots)
    b = (SparkSession.builder.master(master).appName(app)
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
         .config("spark.driver.memory", driver_mem)
         # v2 commit: tasks move their output files directly; the driver
         # only writes _SUCCESS (v1 renames every file serially on the
         # driver — a hidden serial stage that caps scaling efficiency)
         .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
         .config("spark.ui.enabled", "false"))
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
