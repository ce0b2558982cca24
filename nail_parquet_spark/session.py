"""SparkSession factory.

Mirrors the reference's execution knobs (batch size / target_partitions,
/root/reference/src/utils/mod.rs:13-44) with their Spark equivalents, tuned
for a multi-executor cluster: AQE for runtime re-planning + skew joins,
Arrow for the pandas/Arrow UDF codec path, UTC session timezone so
timestamp semantics are stable across engines.

Python workers run under ``nail_parquet_spark._daemon``, PySpark's daemon
with one change: before Python 3.13 every task re-read the central
directory of each import archive (``pyspark.zip``, the spark-core jar,
py4j), ~0.16 s of fixed cost per Python task; the daemon re-reads an
archive only when it changed on disk. The package's parent directory is
put on the workers' ``PYTHONPATH`` so they can import it. Opt out with
``extra_conf={"spark.python.daemon.module": "pyspark.daemon"}``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the package, for the workers' import path
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """A quarter of the machine's memory (``MemTotal``), at least 1g: a
    fixed large heap can exceed the machine and get the JVM killed."""
    try:
        with open(meminfo) as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration):
        kb = 0
    return f"{max(1, kb // (4 << 20))}g"


def get_spark(
    app_name: str = "nail_parquet_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in this sandbox; on a
    real cluster callers pass nothing and spark-submit supplies the master.
    The driver heap is ``$SPARK_DRIVER_MEM`` when set, else a quarter of
    the machine's memory (at least 1g). Python workers import the package
    from its parent directory, put ahead of the driver's ``PYTHONPATH`` in
    ``spark.executorEnv.PYTHONPATH``, and run under
    ``nail_parquet_spark._daemon``, which spares each task the re-read of
    unchanged import archives that Python < 3.13 does per task (see the
    module docstring). ``extra_conf`` overrides all of these, e.g.
    ``{"spark.python.daemon.module": "pyspark.daemon"}`` for the stock
    daemon.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_s = os.environ.get("SPARK_GRAFT_CPUS", "")
        shuffle_partitions = int(cpus_s) if cpus_s.isdigit() else 32

    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.columnarReaderBatchSize", "16384")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory())
        .config("spark.executorEnv.PYTHONPATH", os.pathsep.join(
            p for p in (_PKG_PARENT, os.environ.get("PYTHONPATH")) if p))
        .config("spark.python.daemon.module", "nail_parquet_spark._daemon")
    )
    # Only set master when not already running inside a cluster submit.
    if not os.environ.get("SPARK_SUBMIT_DEPLOY_MODE"):
        b = b.master(master)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
