"""SparkSession factory tuned for the CDC engine, and the one helper
every Python UDF body of the engine runs through.

Local-mode defaults match the sandbox (local[32], single JVM); on a real
cluster the same builder is used minus the master override — every knob
here is a standard public Spark conf.

Python runs on the workers on these paths only: the binlog byte decoder
(`sources.binlog_binary.decode_binlog_df`, `mapInArrow`, one task per
file) and the ANN / packing / media / streaming-state operators
(`mapInPandas`, `applyInPandas`, `applyInPandasWithState`, one
`pandas_udf`); each of those Python bodies is wrapped by
`on_python_worker`. Decode filters, render, flashback and the MERGE are
JVM expressions.

Python-task cost: before every task the PySpark worker calls
`importlib.invalidate_caches()`, and on CPython 3.11 every
`zipimport.zipimporter` in `sys.path_importer_cache` then re-reads its
archive's directory. A worker that imports pyspark from `pyspark.zip`
holds about 16 such finders (one per pyspark subpackage, each
re-reading the archive's 1,328-entry directory): 0.26-0.29 s of worker
CPU per task before the UDF's first line. `on_python_worker` drops those
finders at the start of every call, so the next task's invalidation has
none to re-read; a trivial warm task then costs 0.04-0.05 s of worker
CPU (measured on 4 vCPUs at `local[4]`).
"""

from __future__ import annotations

import functools
import inspect
import os
import re
import sys
import zipimport

from pyspark.sql import SparkSession

# Shuffle partitions sized for local[32]; on a 1000-executor cluster this
# is overridden to ~2-3x total cores. It is the initial partition count
# of every exchange that names none, the commit merge's bucket exchange
# among them (operators/apply._lww_merge); AQE then coalesces the
# partitions to about max(min(total bytes / cores, 64 MB), 1 MB) each.
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "bingo2sql_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with CDC-appropriate defaults.

    - AQE on: runtime coalesce + skew-join mitigation at scale.
    - Arrow on: the Python UDFs (binlog decode, ANN, packing, media)
      move Arrow batches, not rows.
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


def drop_zip_finders() -> None:
    """Delete every `zipimporter` from `sys.path_importer_cache`. The
    cache is only a cache: a later import from the same archive builds
    a new finder from `zipimport._zip_directory_cache`, without reading
    the archive again."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


def on_python_worker(fn):
    """Wrap a function the engine hands to Spark to run on a Python
    worker (`mapInArrow`, `mapInPandas`, `applyInPandas`,
    `applyInPandasWithState`, `pandas_udf`): each call first drops the
    worker's zip finders (`drop_zip_finders`), so the invalidation that
    starts the worker's next task re-reads no archive. Every call, not
    once per worker: imports during a task create finders again.

    The wrapper keeps `fn`'s signature and annotations: PySpark reads
    the argument count of grouped-map functions with
    `inspect.getfullargspec`, which does not follow `__wrapped__`, and
    `pandas_udf` infers its kind from the type hints."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        drop_zip_finders()
        return fn(*args, **kwargs)

    wrapper.__signature__ = inspect.signature(fn)
    return wrapper
