"""SparkSession builder tuned for the engine.

Local defaults mirror what a 1000-executor cluster deployment would set:
AQE on (runtime re-plan + skew-join splitting), Arrow execution on (every
UDF in this engine is Arrow-vectorized), shuffle partitions sized to cores.

Local masters start Python workers through :mod:`.worker_daemon`. Spark puts
``pyspark.zip``, the py4j zip and the spark-core jar on every worker's
``sys.path``, and ``pyspark.worker`` calls ``importlib.invalidate_caches()``
before each task, which on CPython 3.11 re-reads the central directory of
each of the 16 zip importers over them (pyspark.zip alone has 1,328 entries,
the jar 5,359). The daemon drops those archives when an installed pyspark
of the same version can serve instead. On a 4 vCPU host, with the stock
daemon vs this one (``scripts/task_overhead.py``, median of 7, two runs
each), an identity ``mapInArrow`` over 1 partition took 286-360 ms vs
142-145 ms, and over 16 partitions 1.43-1.49 s vs 0.43-0.46 s. To check which
daemon ran, read ``pyspark.__file__`` inside a task: site-packages, not
``pyspark.zip``. The package's import root (a directory or a zip) goes on
``spark.executorEnv.PYTHONPATH``, so the daemon imports wherever the driver
did. Other masters keep the stock daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: allocator tuning inherited by the JVM and its Python workers: the system
#: Arrow pool and high glibc mmap/trim thresholds stop the constant
#: mmap/munmap + madvise churn of jemalloc-style purging, which on this
#: sandbox's discard-mounted ext4 + 32 worker processes showed up as >90%
#: kernel time (TLB-shootdown storms). Harmless elsewhere.
_ALLOCATOR_ENV = {
    "ARROW_DEFAULT_MEMORY_POOL": "system",
    "MALLOC_MMAP_THRESHOLD_": "1073741824",
    "MALLOC_TRIM_THRESHOLD_": "1073741824",
}


def _import_root() -> str:
    """The ``sys.path`` entry this package was imported from: the directory
    holding the package, or the zip that holds it."""
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app: str = "pandora-token-columnar", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    for k, v in _ALLOCATOR_ENV.items():
        os.environ.setdefault(k, v)
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    cores = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
    n = os.cpu_count() or 32 if cores == "*" else int(cores)
    sp = shuffle_partitions or n
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    # shuffle/spill dirs on tmpfs when available: this sandbox's disk is
    # discard-mounted ext4, and the TRIM issued when a JVM deletes its shuffle
    # files at exit poisons subsequent jobs with kernel time; tmpfs deletes
    # are free (a real cluster would point spark.local.dir at local NVMe)
    if os.access("/dev/shm", os.W_OK):
        b = b.config("spark.local.dir", "/dev/shm/spark-local")
    for k, v in _ALLOCATOR_ENV.items():
        b = b.config(f"spark.executorEnv.{k}", v)
    if master == "local" or master.startswith("local["):
        b = (b.config("spark.python.daemon.module", f"{__package__}.worker_daemon")
             .config("spark.executorEnv.PYTHONPATH", _import_root()))
    return b.getOrCreate()
