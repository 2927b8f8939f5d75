"""SparkSession factory tuned for the rollup engine.

Local-mode defaults mirror what we would submit cluster-side via
``spark-submit --py-files`` (AQE on, Arrow on, UTC, shuffle partitions
sized to cores). At 100 TB the same settings apply except
``spark.sql.shuffle.partitions`` scales with executor count and inputs
arrive as Iceberg tables (see roll_spark.sources.iceberg).

When the package is imported from a directory (not a ``--py-files``
zip), Python workers get that directory on their path, so executors find
``roll_spark`` from any working directory, and run the
``roll_spark._daemon`` worker daemon, which stops CPython < 3.12 from
re-reading every zip archive on the worker path at the start of each
task (~0.2 s per Arrow task).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# the directory holding the roll_spark package (a zip under --py-files)
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _worker_conf(extra_conf: dict[str, str]) -> dict[str, str]:
    """Python-worker settings for a package imported from a directory:
    the caller's executor PYTHONPATH plus PACKAGE_ROOT, and the worker
    daemon unless the caller picks one."""
    if not os.path.isdir(PACKAGE_ROOT):
        return {}
    key = "spark.executorEnv.PYTHONPATH"
    paths = [p for p in extra_conf.get(key, "").split(os.pathsep) if p]
    if PACKAGE_ROOT not in paths:
        paths.append(PACKAGE_ROOT)
    return {
        "spark.python.daemon.module": extra_conf.get(
            "spark.python.daemon.module", "roll_spark._daemon"
        ),
        key: os.pathsep.join(paths),
    }


def get_spark(
    cpus: int | None = None,
    app_name: str = "roll_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession on ``local[cpus]``.

    Shuffle partitions are pinned to the core count: the engine's hot
    path is one hash-shuffle on the series key (conv_id / user_id)
    followed by a within-partition sort, so partitions ~ cores avoids
    both tiny-task overhead and giant spilling partitions. On a real
    cluster this becomes ~2-3x total executor cores.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing with parallelismFirst uses minPartitionSize (1MB
        # default) as the floor; window evaluation is CPU-dense (~seconds
        # per MB), so a 1MB floor serializes small-scale runs onto 1-2
        # cores, while a floor too low (64k) taxes join-heavy queries with
        # task overhead. 256k balances both at bench scale and is a no-op
        # at cluster scale where shuffle partitions are >> 64MB anyway.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("ROLL_SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    extra_conf = extra_conf or {}
    for k, v in {**extra_conf, **_worker_conf(extra_conf)}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
