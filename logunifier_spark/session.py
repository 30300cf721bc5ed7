"""SparkSession factory with scale-oriented defaults.

Tuned for the 100 TB design point (SURVEY.md §4): AQE on (runtime coalesce +
skew-join splitting), Arrow transfer for the parse UDFs, UTC session tz (all
reference timestamps normalize to UTC), and shuffle partitions sized to the
local harness (override per cluster via spark-submit --conf)."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def ship_package(spark: SparkSession) -> str:
    """Make `logunifier_spark` importable on every executor regardless of the
    driver's cwd — the programmatic equivalent of `spark-submit --py-files`.
    Zips the package once per process and registers it with addPyFile once
    per SparkContext: a repeated addPyFile is ignored by Spark but logs an
    "added already" WARN each time."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = os.path.join(tempfile.gettempdir(),
                        f"logunifier_spark_pyfiles_{os.getpid()}")
    zip_path = base + ".zip"
    if not os.path.exists(zip_path):
        staging = base + "_stage"
        shutil.rmtree(staging, ignore_errors=True)
        shutil.copytree(pkg_dir, os.path.join(staging, "logunifier_spark"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.make_archive(base, "zip", staging)
        shutil.rmtree(staging, ignore_errors=True)
    sc = spark.sparkContext
    if os.path.basename(zip_path) not in sc._python_includes:  # noqa: SLF001
        sc.addPyFile(zip_path)
    return zip_path


def get_spark(app_name: str = "logunifier-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize the Python round-trip for the
        # vectorized parse UDF (str.extract dominates; batch setup is fixed)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
