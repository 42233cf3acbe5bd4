"""SparkSession factory tuned for the crawl/analytics engine.

Local-mode defaults mirror what a 1000-executor cluster submit would set via
spark-submit conf: AQE on (runtime re-plan + skew-join splitting), Arrow
enabled for every pandas-UDF boundary, shuffle partitions sized to the
parallelism level (NOT the 200 default — at 100 TB you size this to
~2-3x total cores and let AQE coalesce), UTC so no wall-clock/timezone
nondeterminism leaks into results.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """About half the machine's physical memory, never above 16g: the local
    driver JVM also hosts every executor, and the Python workers need the
    other half."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(16 << 10, kib // 2048)}m"


# the deployment override, else the cores this process may run on
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "job_crawler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` controls local parallelism (``local[cores]``); the bench harness
    uses this to run the identical job at two parallelism levels (N vs 4N)
    for the scaling-efficiency evidence required by BASELINE.md.
    """
    cores = cores or DEFAULT_CPUS
    # 2x cores: enough tasks to keep every core busy through stragglers,
    # few enough that task-launch overhead stays negligible at local scale.
    # On a real cluster this would be ~2-3x total executor cores; AQE
    # coalesces small post-shuffle partitions either way.
    shuffle_partitions = shuffle_partitions or max(cores * 2, 8)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Broadcast threshold: dims (robots, vocab tables) are tiny; 64 MB
        # keeps the politeness/robots joins broadcast at any realistic size.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        # local-mode shuffle goes through spark.local.dir; tmpfs removes the
        # single-disk bottleneck that otherwise serializes multi-core runs
        .config("spark.local.dir", os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Every Python-worker death must carry a Python traceback: an
        # unattributed "worker exited unexpectedly (crashed)" (see
        # BENCH/NOTES_r05.md, Aug 17 stage 1312) is unacceptable for an
        # engine that targets resumable multi-day crawls. Both the generic
        # worker flag and the SQL-UDF (Arrow path) twin.
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
