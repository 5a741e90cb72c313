"""SparkSession factory.

The reference runs implicitly in Asia/Ho_Chi_Minh (PostgreSQL
``timestamptz`` + host clock); we pin the session timezone explicitly so
timestamp arithmetic is deterministic everywhere.

Scale posture (cluster defaults, overridable):
- AQE on (runtime coalesce, skew-join splitting, broadcast conversion);
- Arrow on for the few pandas-UDF hops;
- shuffle partitions sized for local[N] tests; on a real cluster AQE
  coalesces, so a higher static number is safe.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_TZ = "Asia/Ho_Chi_Minh"


def get_spark(
    app_name: str = "jobinsight-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    timezone: str = DEFAULT_TZ,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    when no cluster master is configured — on a real deployment the
    cluster manager supplies it.
    """
    # Python workers resolve imports from PYTHONPATH, not the driver's
    # sys.path — make sure the package (pandas UDFs unpickle it worker-side)
    # is reachable even when the caller runs from another directory.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{existing}" if existing else pkg_parent
        )

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    # pin the JVM default timezone to the session timezone — otherwise
    # python-datetime ingestion (JVM-default) and SQL literals/rendering
    # (session tz) disagree and wall-clocks shift by the offset
    os.environ.setdefault("TZ", timezone)
    try:
        import time as _time

        _time.tzset()
    except AttributeError:
        pass  # non-POSIX

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", timezone)
        .config("spark.driver.extraJavaOptions", f"-Duser.timezone={timezone}")
        .config("spark.executor.extraJavaOptions", f"-Duser.timezone={timezone}")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # read INT64 TIMESTAMP(NANOS) parquet columns (which Spark cannot
        # represent) as raw nanos; catalog.load converts to microseconds.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # dynamic partition overwrite: partition-restore (SURVEY S11)
        # replaces only the partitions present in the written DataFrame.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()

    # WindowExec warns "No Partition Defined" on EVERY partition-less
    # window, with no size threshold. The engine's remaining global
    # windows are delta-bounded by contract (surrogate-key assignment
    # over a daily batch — see operators/merge._ordered_offsets, whose
    # probe sends bulk loads to the bucketed plan instead), so the
    # warning is noise here: demote that one logger to ERROR. Plan-shape
    # tests (test_plans_physical) still police accidental global sorts.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # logging backend not log4j2 — cosmetic only
    return spark
