"""SparkSession factory.

The reference builds a bare GlueContext-wrapped session
(scripts/etl.py:10-18) with zero tuning.  Here the session is
scale-aware from the start: AQE on (runtime broadcast/skew re-plan),
shuffle partitions sized to the local core count instead of the 200
default, Arrow enabled for the Pandas-UDF slow path, and UTC session
timezone so results compare bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "yelp_review_analytics_spark"


def _default_driver_memory() -> str:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: 16g, or
    half the host's physical memory when that is smaller.  A long-lived
    session (one JVM per test session) grows toward its cap, so a cap
    above the host hands the process to the OOM killer."""
    phys_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(16 * 1024, phys_mib // 2)}m"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]`` (all cores).  Shuffle
    partitions default to the parallelism of the master — at 100 TB
    the caller overrides ``spark.sql.shuffle.partitions`` through
    ``extra_conf`` or lets AQE coalesce from a high initial number.
    ``extra_conf`` entries are applied last (``sources.catalog``
    documents the Hive-catalog one).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    # parallelism comes from the RESOLVED master (an explicit local[N]
    # wins over the env default), and a malformed count fails with the
    # reason, not a bare ValueError from int()
    m = re.fullmatch(r"local\[(\*|\d+)(?:,\d+)?\]", master)
    if m:
        width = m.group(1)
        shuffle_partitions = 32 if width == "*" else max(int(width), 1)
    elif master.startswith("local["):
        raise ValueError(
            f"cannot derive shuffle partitions from master={master!r} "
            "(set SPARK_GRAFT_CPUS to an integer or '*')"
        )
    else:
        # cluster masters: a sane initial width; AQE coalesces
        shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # events.parquet carries TIMESTAMP(NANOS); Spark has no ns type —
        # read as long and normalize in the loader (readers.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
