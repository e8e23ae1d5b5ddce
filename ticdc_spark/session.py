"""SparkSession factory tuned for the CDC pipeline.

Local-mode testing stands in for a multi-executor cluster; every knob here
is one that transfers (AQE, shuffle partitions sized to cores, Arrow on).

Python workers fork from the engine's own daemon,
``ticdc_spark.worker_daemon`` (``spark.python.daemon.module``), importable
on the workers because the repo root is put on their ``PYTHONPATH``. It
runs ``pyspark.daemon.manager()`` after two preparations that every
forked worker inherits. First, lazy zip invalidation: PySpark calls
``importlib.invalidate_caches()`` at the start of every task, and before
Python 3.13 that re-parses the central directory of every zip importer
(``pyspark.zip``, the spark-core jar, py4j), most of a reused worker's
per-task CPU. The daemon's wrapper re-reads an archive only when its
``(st_mtime_ns, st_size)`` changed since its last read. Second, it
imports what every mount worker needs (``pyspark.worker``, the Arrow
serializers, pandas, pyarrow) once, before the first fork, and freezes
those objects out of the ``gc.collect()`` PySpark runs after each task.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ticdc_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a SparkSession.

    cores=None → local[*]. Shuffle partitions default to the core count:
    the pipeline's shuffles (dedup agg, merge write) are sized per
    micro-batch, not per 200-partition default.
    """
    # make the package importable in executor python workers regardless of
    # the driver's launch directory (the worker daemon is a repo module)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(":"):
        os.environ["PYTHONPATH"] = f"{repo_root}:{pp}" if pp else repo_root

    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cores or os.cpu_count() or 8

    # Pin GC/JIT thread counts: the JVM defaults them to ncpus, and on
    # shared/virtualized kernels a 32-thread parallel GC degenerates into a
    # futex storm (measured here: a pure-CPU job ran 3-5x slower at
    # local[32] until GC threads were pinned). Harmless on real hardware.
    # Overridable per-run for experiments without touching code; the
    # override is announced so its runs are not mistaken for pinned ones.
    java_opts = os.environ.get("TICDC_SPARK_JAVA_OPTS")
    if java_opts is None:
        java_opts = "-XX:ParallelGCThreads=4 -XX:ConcGCThreads=2 -XX:CICompilerCount=2"
    else:
        print(f"ticdc_spark: TICDC_SPARK_JAVA_OPTS replaces the pinned GC/JIT "
              f"flags; driver JVM options: {java_opts!r}", file=sys.stderr)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "ticdc_spark.worker_daemon")
        .config("spark.driver.memory", os.environ.get("TICDC_SPARK_DRIVER_MEM", "48g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
