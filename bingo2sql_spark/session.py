"""SparkSession factory tuned for the CDC engine.

Local-mode defaults match the sandbox (local[32], single JVM); on a real
cluster the same builder is used minus the master override — every knob
here is a standard public Spark conf.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Shuffle partitions sized for local[32]; on a 1000-executor cluster this
# is overridden to ~2-3x total cores (AQE coalesces the excess at runtime).
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "bingo2sql_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with CDC-appropriate defaults.

    - AQE on: runtime coalesce + skew-join mitigation at scale.
    - Arrow on: mapInPandas decode/render UDFs move batches, not rows.
    - UTC session TZ: makes results comparable with the DuckDB oracle.
    - dynamic partition overwrite: bucket-scoped MERGE rewrites only
      affected partitions.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    b = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # zstd shuffle: fewer bytes through the memory/disk path than
        # lz4 at modest CPU cost — the shuffle is bandwidth-bound in
        # this workload (BENCH/BASELINE.md analysis)
        .config("spark.io.compression.codec", "zstd")
        # single-JVM local mode: the shuffle never leaves this host's
        # page cache/tmpfs, so compressing it is pure CPU with nothing
        # saved — measured -7.6% wall on the 3.2M-event replay with it
        # off (the codec A/B in BENCH/BASELINE.md, consistent with the r2
        # probe matrix).
        # Cluster masters keep compression: there the bytes cross the
        # network. BINGO_SPARK_CONF/extra_conf still override.
        .config(
            "spark.shuffle.compress",
            # match single-JVM masters only: 'local' / 'local[N]' /
            # 'local[*,F]' — NOT 'local-cluster[...]', whose executors
            # are separate JVMs shuffling through disk
            "false"
            if re.fullmatch(r"local(\[[^\]]*\])?", master or f"local[{cpus}]")
            else "true",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    # ad-hoc overrides for experiments: BINGO_SPARK_CONF='{"k":"v",...}'
    env_conf = os.environ.get("BINGO_SPARK_CONF")
    if env_conf:
        import json

        for k, v in json.loads(env_conf).items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
