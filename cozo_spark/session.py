"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
configs are what we'd set on a 1000-executor cluster: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow on (fast
Pandas-UDF path), shuffle partitions sized to the parallelism at hand.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # AQE: runtime re-plan — coalesces tiny shuffle partitions, splits skewed
    # ones, converts to broadcast joins when runtime stats allow. Essential
    # at 100 TB where static estimates are wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batches for any Pandas-UDF path (10-100x over row-at-a-time).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Deterministic timestamp behaviour for oracle comparison.
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    # Keep broadcast threshold generous: dims (region/nation/supplier/part)
    # stay broadcast even at sf100.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
}


def _default_driver_mem() -> str:
    """Half of physical RAM, at most 48g. In local mode the driver JVM is
    the whole cluster; a heap larger than the host lets it grow until the
    kernel kills it (every later Spark call then fails)."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "48g"
    return f"{max(1, min(48, ram // (2 << 30)))}g"


def get_spark(app_name: str = "cozo_spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism; on a real cluster the
    master is whatever the environment provides and these configs still apply.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    if not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
        # In local mode driver memory is the only knob; leave headroom.
        builder = builder.config("spark.driver.memory", os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()))
    conf = dict(_DEFAULTS)
    # Shuffle partitions ~ parallelism locally; AQE coalesces the rest.
    conf.setdefault("spark.sql.shuffle.partitions", cpus)
    conf.update(overrides)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)) -> dict:
    """Load the driver's parquet tables and register temp views."""
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
