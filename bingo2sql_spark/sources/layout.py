"""S3/S4 — event-log physical layout: partition pruning replaces binlog
file discovery.

The reference finds the start/stop binlog files for a time range by
probing each file's first timestamp over N extra connections
(autoParseBinlogPosition core/parser.go:972-1007,1059-1107) and asks the
server for the end of the log (SHOW MASTER STATUS,
core/parser.go:1691-1721). In a lake layout both disappear: events land
partitioned by `log_file` (and day), so a (file,pos) or time-range
filter prunes partitions at PLANNING time — out-of-range files are
never listed, let alone read — and "master status" is simply the max
landed partition.

S1/S2 — `read_landing` is the one reader of a landing, in any of
LANDING_FORMATS, batch or stream: the CLI (run and `stats`) and the
streaming ingest choose the format there and nowhere else, like the
reference picks its binlog source once in front of one core.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bingo2sql_spark import schema as S
from bingo2sql_spark.sources.decode import decode_events, decode_events_typed


def land_events(events: DataFrame, path: str, by_day: bool = True) -> None:
    """Write the event log in the pruning-friendly layout:
    `p_file=<log_file>[/p_day=<yyyy-MM-dd>]/part-*.parquet`, rows sorted
    by log position within files (row-group min/max skipping for F2)."""
    df = events.withColumn("p_file", F.col("log_file"))
    part_names = ["p_file"]
    if by_day:
        df = df.withColumn("p_day", F.date_format("ts", "yyyy-MM-dd"))
        part_names.append("p_day")
    (
        df.repartition(F.col("p_file"))
        .sortWithinPartitions("log_pos")
        .write.mode("overwrite")
        .partitionBy(*part_names)
        .parquet(path)
    )


def land_bucket_aligned(raw: DataFrame, path: str, n_buckets: int) -> None:
    """BUCKET-ALIGNED landing (VERDICT r7 #1): write a typed-wire event
    batch physically partitioned by the TARGET TABLE's bucket function
    (`pbucket=<b>/part-*.parquet`), the way a partition-keyed transport
    (Kafka keyed by merge key, or a connector fanning out by bucket)
    lands it. The merge then reads bucket-homogeneous splits, which is
    what makes its wide stages scale:

    - the bucket exchange becomes a pass-through pattern (each map task
      feeds ~one reducer) instead of an all-to-all;
    - per-split combine maps are bucket-sized (keys/n_buckets), not
      input-sized — cache-resident at any total scale.

    The bucket column is computed with the SAME expression the sink
    uses (apply.bucket_col over the merge keys, coalesced across the
    before/after images), so landing and table can never disagree;
    readers that don't care simply ignore the extra partition column
    (decode projects it away). Works for the typed wire only — JSON
    images would need a parse to extract keys, defeating the point."""
    from bingo2sql_spark.operators.apply import bucket_col

    keyed = raw
    for k in S.MERGE_KEYS:
        keyed = keyed.withColumn(
            k, F.coalesce(F.col(f"after.{k}"), F.col(f"before.{k}"))
        )
    (
        keyed.withColumn("pbucket", bucket_col(n_buckets))
        .drop(*S.MERGE_KEYS)
        .repartition(F.col("pbucket"))
        .sortWithinPartitions("seq")
        .write.mode("overwrite")
        .partitionBy("pbucket")
        .parquet(path)
    )


def read_events(spark: SparkSession, path: str) -> DataFrame:
    """Read the landed log; apply operators.filters.* on the result —
    file/time predicates hit partition columns and prune."""
    df = spark.read.parquet(path)
    # partition dirs carry the canonical values; keep envelope names too
    if "p_file" in df.columns:
        df = df.withColumn("log_file", F.coalesce(F.col("log_file"), F.col("p_file")))
    return df


#: Every landing format `read_landing` reads; the first is the CLI's and
#: start_ingest's default.
LANDING_FORMATS = (
    "envelope_parquet",   # decoded envelopes (schema.ENVELOPE)
    "raw_typed_parquet",  # typed wire (schema.RAW_EVENT_TYPED)
    "raw_json_parquet",   # JSON wire (schema.RAW_EVENT)
    "raw_jsonl",          # JSON wire as JSON lines
    "binlog",             # MySQL binlog v4 files
    "raw_socket",         # JSON wire lines pushed over TCP: stream only
)

#: RAW_EVENT plus the column a PERMISSIVE JSON parse puts a malformed
#: line in
_RAW_JSONL = T.StructType(
    S.RAW_EVENT.fields + [T.StructField("_corrupt_record", T.StringType(), True)]
)
_JSONL_OPTIONS = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"}

#: the `binaryFile` source's fixed schema; a file stream needs it spelled out
_BINARY_FILE = "path string, modificationTime timestamp, length long, content binary"


def read_landing(
    spark: SparkSession,
    path: str,
    fmt: str,
    *,
    stream: bool = False,
    max_files_per_trigger: int | None = None,
    table_schemas: dict[str, list] | None = None,
    schema: T.StructType | None = None,
) -> DataFrame:
    """S1/S2 — the one reader of a landed change-event log: decoded
    envelope events from a landing in format `fmt` (LANDING_FORMATS),
    through `spark.read` or, with `stream=True`, `spark.readStream`.
    Only the reader object and the read schema differ between the two
    directions; the decode that follows is the same projection, so
    filters push below it either way.

    - Parquet landings: `schema` is the read schema. Left None, a batch
      read infers it and a stream pins the format's wire schema.
    - JSON lines (files, or `path="host:port"` for the socket push
      tail): RAW_EVENT in both directions. A malformed line raises with
      its text when the decode reaches it, instead of melting into an
      all-NULL row that the op gates then drop.
    - Binlog files: one `binaryFile` scan decoded by
      binlog_binary.decode_binlog_df (each file in one task);
      `table_schemas` names the columns (`{"db.table": columns}`, the
      parser's registry), or they decode positionally as @1..@N.

    The socket tail reads no files, so Spark has no batch reader for
    it, and it is not fault-tolerant: a dropped connection loses the
    lines in flight (no replay offset, unlike the binlog protocol's
    GTID resume). Put a replayable log in front of it in production."""
    if fmt not in LANDING_FORMATS:
        raise ValueError(f"unknown landing format {fmt!r}; one of {LANDING_FORMATS}")
    reader = spark.readStream if stream else spark.read
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if fmt == "raw_socket":
        if not stream:
            raise ValueError(
                "landing format 'raw_socket' reads only as a stream: Spark has "
                "no batch socket reader"
            )
        host, sep, port = path.rpartition(":")
        if not sep or not host or not port.isdigit():
            raise ValueError(f"landing format 'raw_socket' needs 'host:port', got {path!r}")
        lines = reader.format("socket").option("host", host).option("port", int(port)).load()
        raw = lines.select(F.from_json("value", _RAW_JSONL, _JSONL_OPTIONS).alias("_e"))
        return _decode_json_lines(raw.select("_e.*"))
    if fmt == "raw_jsonl":
        return _decode_json_lines(_raw_jsonl(reader, path))
    if fmt == "binlog":
        from bingo2sql_spark.sources.binlog_binary import (
            decode_binlog_df, payload_schema_from,
        )

        files = reader.format("binaryFile").schema(_BINARY_FILE).load(path)
        return decode_events(
            decode_binlog_df(files, table_schemas),
            payload=payload_schema_from(table_schemas),
        )
    if schema is None and stream:
        schema = S.RAW_EVENT if fmt == "raw_json_parquet" else S.ENVELOPE
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(path)
    if fmt == "raw_typed_parquet":
        return decode_events_typed(df)
    if fmt == "raw_json_parquet":
        return decode_events(df)
    return df


def _raw_jsonl(reader, path: str) -> DataFrame:
    return reader.schema(_RAW_JSONL).options(**_JSONL_OPTIONS).json(path)


def _decode_json_lines(raw: DataFrame) -> DataFrame:
    """decode_events over JSON-wire lines that raises on a malformed
    one. The raise rides the `op` projection: every consumer gates on
    op, and a gate pushed below the decode still evaluates it, so no
    extra job runs and no gate can drop the line first."""
    bad = F.col("_corrupt_record")
    return decode_events(raw.withColumn(
        "op",
        F.when(
            bad.isNotNull(), F.raise_error(F.concat(F.lit("malformed JSON line: "), bad))
        ).otherwise(F.col("op")),
    ))


def read_raw_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """The raw (undecoded) JSON-lines landing — the common Kafka-connect
    / tailer format — as read_landing reads it: the explicit RAW_EVENT
    schema means NO inference pass over the data (a second full scan at
    100 TB), and a malformed line surfaces in a `_corrupt_record`
    column."""
    return _raw_jsonl(spark.read, path)


def head_position(spark: SparkSession, path: str) -> tuple[str, int]:
    """S4 master-status analog: the highest (log_file, log_pos) landed."""
    df = spark.read.parquet(path)
    r = df.agg(F.max(F.struct("log_file", "log_pos")).alias("m")).collect()[0]["m"]
    return (r["log_file"], r["log_pos"])
