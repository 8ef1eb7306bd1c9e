"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]``; the configs below are chosen so the
same logical plans survive a 1000-executor cluster: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), a modest
broadcast threshold (dimension tables and query-vector literals broadcast;
fact tables never do), UTC session timezone (parity with the DuckDB
correctness oracle's naive timestamps), and Arrow enabled for the few
pandas_udf paths (embedding functions, multimodal decode stubs).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sifts-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no active session exists; on a real cluster the caller's
    spark-submit master wins.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Python workers must be able to import sifts_spark: cloudpickle
    # serializes the Arrow kernels' module-level helpers BY REFERENCE,
    # so a driver running outside the repo (any user script) would hit
    # ModuleNotFoundError in the first pandas_udf stage. Putting the
    # package root on PYTHONPATH before the JVM starts is the local-mode
    # equivalent of spark-submit --py-files / a pip-installed egg on a
    # real cluster (where this is a no-op if the package is installed).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{pypath}" if pypath else pkg_root
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Testdata parquet carries NAIVE timestamps (timestamp[us], no
        # tz), which Spark 4 infers as TIMESTAMP_NTZ by default. Read
        # them as LTZ instants: with the UTC session timezone above, the
        # values are identical to what the DuckDB oracle sees, so the
        # catalog's timestamp outputs compare equal to its rows.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if master:
        builder = builder.master(master)
    elif SparkSession.getActiveSession() is None:
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
