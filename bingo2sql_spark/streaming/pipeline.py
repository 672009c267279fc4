"""Structured Streaming ingest: binlog tail -> micro-batch MERGE.

Reference parity: the continuous remote tail (`--stop-never`, BinlogSyncer
loop core/parser.go:415-481) becomes a stream over the landed event log
(sources.layout.read_landing, stream=True); per-event gates stay Column
predicates on the stream; each micro-batch goes through the same LWW +
MERGE as batch replay inside `foreachBatch` (the channel-to-single-writer
funnel, core/parser.go:844-857, replaced by an idempotent table commit).

Exactly-once: Spark's checkpoint gives at-least-once batch re-delivery
with STABLE batch ids; IcebergLiteTable.commit skips batch ids it has
already applied -> end-to-end exactly-once. Killing the query at any
point and restarting from the checkpoint converges to the identical
final state (north rule), which tests/test_streaming.py proves.

Metrics: one JSON line per micro-batch appended to <table>/_metrics.jsonl
(the reference's 5-second websocket progress push, core/socket.go:34-76).
Lineage: per-bucket max (log_file, log_pos) -> snapshot recorded in the
commit manifest (apply.py).
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from bingo2sql_spark import schema as S
from bingo2sql_spark.operators import filters as FL
from bingo2sql_spark.operators.apply import IcebergLiteTable
from bingo2sql_spark.pipeline import apply_batch
from bingo2sql_spark.sources.layout import LANDING_FORMATS, read_landing


def start_ingest(
    spark: SparkSession,
    events_dir: str,
    table: IcebergLiteTable,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    stop_idle_secs: float | None = None,
    stop_max_rows: int | None = None,
    stop_on_gtid_exhaustion: bool = False,
    stop_poll_secs: float = 0.5,
    row_image: str = "FULL",
    source_format: str = LANDING_FORMATS[0],
    on_commit: Any = None,
    table_meta: Any = None,
    source_schema: Any = None,
    table_schemas: dict[str, list] | None = None,
    **filter_kwargs: Any,
) -> StreamingQuery:
    """Launch the ingest query. availableNow=True drains the current
    backlog then stops (the reference's stop-at-master-status,
    core/parser.go:552-563); False tails continuously (--stop-never),
    optionally at a `processing_time` trigger cadence.

    A CONTINUOUS tail can self-stop like the reference's live loop
    (core/parser.go:2262-2293, 434-437) — a batch predicate is not the
    same thing as stopping a running query, so a monitor thread watches
    gate values published by each micro-batch and calls stop() when:

    - stop-time passage: an event STRICTLY past `stop_time` has been
      read (ts is weakly monotone in log order, so everything inside
      the window is already committed; the filter itself still gates
      rows). Measured on the PRE-filter batch — the qualifying event
      never survives the filter.
    - `stop_on_gtid_exhaustion`: every requested `gtids` interval has
      been fully absorbed (per-uuid max observed gno >= interval stop;
      gno is monotone per uuid in a binlog).
    - `stop_max_rows`: cumulative committed change rows reached the cap
      (batch granularity: the final batch may overshoot, exactly like
      the reference which stops after the row that crosses the line).
    - `stop_idle_secs`: no DATA for that long, measured from query
      start or the last data-bearing micro-batch (the reference's
      10 s-idle exit; an all-quiet source exits too). Size it to cover
      first-batch warmup — a slow first batch that exceeds it is
      cancelled as idle.

    The gates ride one narrow (header-columns-only) aggregate per
    micro-batch inside foreachBatch — `observe()` metrics do not
    surface through a foreachBatch sink, and the filtered stream must
    not hide boundary passage. The stop reason is appended to the
    table's metrics JSONL as {"stop_reason": ...}. Conditions are
    ignored under availableNow (the drain already stops by itself).

    `source_format` (sources.layout.LANDING_FORMATS) names the landing
    sources.layout.read_landing tails: raw wire landings decode IN the
    stream, binlog files decode one per task with `table_schemas` as the
    parser's column registry, and `source_schema` overrides a parquet
    landing's read schema (an evolving deployment's landing carries
    wider payload structs than the pinned registry version, e.g. both
    spellings of a renamed column while producers race the DDL).

    `on_commit(table, metrics)` runs inside foreachBatch after each
    durable commit — the continuous-curation hook (e.g.
    dedup.SignatureStore.refresh keeps a signature table in lockstep
    with the replicated corpus); exactly-once analysis in the hook-call
    comment below.

    Each micro-batch goes through pipeline.apply_batch, the step batch
    replay uses. Given `table_meta` (the registry entry's state at tail
    start), ALTER TABLE statements arriving MID-TAIL drive the target
    table's schema inside foreachBatch with replay's evolution semantics
    (ADD at the ALTER's seq, DROP, CHANGE renames via manifest aliases,
    MODIFY narrowing checks, MINIMAL composition), applied per
    micro-batch against a registry entry that EVOLVES across batches.
    The reference's live loop does this inline
    (core/parser.go:2314-2339). Restart safety: the
    evolved meta + the highest applied DDL seq persist atomically to
    `<table>/_schema_meta.json` after each commit — a checkpoint
    restart resumes from the post-DDL schema, a re-delivered epoch's
    DDL rows are skipped by the seq cursor (seqs are global log
    positions, so the cursor also survives a FRESH checkpoint whose
    epochs reset), and a crash between commit and persist just
    re-derives the same plan from the re-delivered epoch. The landing
    must carry the op='ddl' Query events' `statement` column: parquet
    envelopes (and the typed wire, which has their shape) are read with
    it, NULL on DML rows, and binlog files carry it. The JSON wire
    shapes do not, and start_ingest raises before the query starts."""
    evolve = table_meta is not None
    schema = source_schema
    if schema is None and evolve:
        schema = T.StructType(
            list(S.ENVELOPE.fields) + [T.StructField("statement", T.StringType(), True)]
        )
    stream = read_landing(
        spark, events_dir, source_format, stream=True,
        max_files_per_trigger=max_files_per_trigger,
        table_schemas=table_schemas, schema=schema,
    )
    if evolve and "statement" not in stream.columns:
        raise NotImplementedError(
            "table_meta needs a landing that carries op='ddl' `statement` "
            f"rows; {source_format!r} does not"
        )

    # ---- stop-condition plumbing (pre-filter observation) -----------------
    stop_time = filter_kwargs.get("stop_time")
    gtid_ranges: list = []
    if stop_on_gtid_exhaustion:
        spec = filter_kwargs.get("gtids")
        if not spec:
            raise ValueError("stop_on_gtid_exhaustion requires a gtids= filter")
        gtid_ranges = FL.parse_gtid_sets(spec) if isinstance(spec, str) else list(spec)
    want_monitor = not available_now and (
        stop_time is not None
        or stop_idle_secs is not None
        or stop_max_rows is not None
        or bool(gtid_ranges)
    )
    gate_exprs = [
        F.count(F.lit(1)).alias("n"),
        F.max(F.unix_seconds(F.col("ts"))).alias("max_ts"),
    ] + [
        F.max(F.when(F.col("gtid_uuid") == r.uuid, F.col("gno"))).alias(f"gno_{i}")
        for i, r in enumerate(gtid_ranges)
    ]
    metrics_path = os.path.join(table.path, "_metrics.jsonl")

    def _query_id() -> str:
        """The streaming queryId from the checkpoint's metadata file —
        stable across restarts from the SAME checkpoint, fresh for a new
        checkpoint dir or a second query. Scoping the batch id by it
        (IcebergLiteTable.stream_batch_id) keeps the exactly-once
        watermark per checkpoint lineage: without it, a fresh-checkpoint
        restart (epochs reset to 0) or a second ingest query would have
        every micro-batch skipped as 'already committed' (silent data
        loss). Iceberg keys its epoch dedup by queryId the same way."""
        meta_path = os.path.join(checkpoint_dir, "metadata")
        try:
            with open(meta_path) as f:
                return json.load(f)["id"]
        except Exception as e:
            # FAIL LOUDLY (ADVICE r3): a silent constant fallback would make
            # every broken-metadata query share one watermark key and
            # reintroduce the cross-query batch-skip data-loss bug this
            # scoping exists to prevent. Spark writes the metadata file at
            # query start, strictly before the first foreachBatch call, so
            # an unreadable file here is a real fault, not a race.
            raise RuntimeError(
                f"cannot read streaming queryId from {meta_path}; refusing to "
                f"commit without a per-checkpoint watermark scope"
            ) from e

    import time as _time

    # parse stop_time BEFORE the query starts: a bad value must raise
    # here, not from the monitor thread after an unmonitored query is
    # already running. Accept the same formats filters.time_range's
    # to_timestamp takes (date-only included).
    stop_time_s = _parse_stop_time(spark, stop_time) if want_monitor else None

    gate_state: dict[str, Any] = {
        # idle countdown arms at query start: a source that never
        # produces a batch (empty landing dir) must still idle-stop —
        # size stop_idle_secs to cover first-batch warmup
        "rows": 0, "max_ts": None, "gno": {}, "last_data": _time.time(),
    }

    # ---- DDL-evolution state (see docstring) -------------------------------
    evo_meta_path = os.path.join(table.path, "_schema_meta.json")
    evo_state: dict[str, Any] = {"meta": table_meta, "applied_seq": None}
    if evolve and os.path.exists(evo_meta_path):
        with open(evo_meta_path) as f:
            saved = json.load(f)
        from bingo2sql_spark.schema import TableMeta as _TM

        saved_meta = _TM.from_dict(saved["meta"])
        if (saved_meta.db.lower(), saved_meta.table.lower()) != (
            table_meta.db.lower(), table_meta.table.lower()
        ):
            raise ValueError(
                f"{evo_meta_path} belongs to {saved_meta.db}.{saved_meta.table}, "
                f"not {table_meta.db}.{table_meta.table}"
            )
        if saved_meta.schema_ver >= table_meta.schema_ver:
            # resume from the persisted post-DDL schema; the seq cursor
            # makes re-delivered DDL idempotent
            evo_state = {"meta": saved_meta, "applied_seq": saved.get("applied_seq")}

    def _persist_evo() -> None:
        tmp = evo_meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "meta": evo_state["meta"].to_dict(),
                    "applied_seq": evo_state["applied_seq"],
                },
                f,
            )
        os.replace(tmp, evo_meta_path)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # NOTE: once foreachBatch RETURNS, Spark acknowledges the epoch in
        # the checkpoint — an early "skip" here would mark unprocessed
        # events as committed and lose them on resume. So a batch that
        # races the stop is processed normally: if query.stop() cancels it
        # mid-flight the epoch is NOT acknowledged and re-delivers on
        # resume; if it completes, the data is durable. Either way no row
        # is lost.
        g = None
        if want_monitor:
            # narrow gate aggregate on the PRE-filter batch (header
            # columns only — the payload never leaves the scan)
            g = batch_df.agg(*gate_exprs).collect()[0]
        # the batch's DDL timeline resolves against the EVOLVING registry
        # entry; the seq cursor skips DDL rows an earlier attempt already
        # applied (re-delivered epochs)
        m, plan = apply_batch(
            batch_df, table, table.stream_batch_id(_query_id(), epoch_id),
            row_image=row_image,
            table_meta=evo_state["meta"],
            min_ddl_seq=evo_state["applied_seq"],
            **filter_kwargs,
        )
        m["epoch_id"] = epoch_id
        if plan is not None:
            # persist the evolved registry entry AFTER the commit is
            # durable (or dedup-skipped — the manifest already reflects
            # the DDL then); crash before this point re-derives the
            # same plan from the re-delivered epoch
            evo_state["meta"] = plan.meta
            if plan.applied_ddl_seq is not None:
                evo_state["applied_seq"] = max(
                    plan.applied_ddl_seq, evo_state["applied_seq"] or 0
                )
            m["schema_ver"] = plan.meta.schema_ver
            _persist_evo()
        gate_state["rows"] += int(m.get("rows_in_batch") or 0)
        if on_commit is not None:
            # post-commit hook (e.g. dedup.SignatureStore.refresh — the
            # continuous-curation lockstep): runs AFTER the table commit
            # is durable, INSIDE the epoch — if it raises, the epoch is
            # not acknowledged and re-delivers; the table commit then
            # dedups by batch id and the hook simply retries, so a
            # version-pointer-based hook catches up exactly once.
            on_commit(table, m)
        with open(metrics_path, "a") as f:
            f.write(json.dumps(m) + "\n")
        if g is not None:
            # publish gates only AFTER the commit: a condition derived
            # from this batch may stop the query the instant it becomes
            # visible, and the batch that crossed the boundary must be
            # durable first (otherwise the stop cancels the commit of
            # the very rows inside the boundary — data loss)
            if g["n"]:
                gate_state["last_data"] = _time.time()
                if g["max_ts"] is not None:
                    prev = gate_state["max_ts"]
                    gate_state["max_ts"] = (
                        float(g["max_ts"]) if prev is None else max(prev, float(g["max_ts"]))
                    )
                for i in range(len(gtid_ranges)):
                    v = g[f"gno_{i}"]
                    if v is not None:
                        gate_state["gno"][i] = max(gate_state["gno"].get(i, int(v)), int(v))
            # (an empty batch does NOT refresh the idle clock)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    q = writer.start()
    if want_monitor:
        _watch_stop_conditions(
            q,
            metrics_path=metrics_path,
            gate_state=gate_state,
            stop_time_s=stop_time_s,
            stop_max_rows=stop_max_rows,
            stop_idle_secs=stop_idle_secs,
            gtid_ranges=gtid_ranges,
            poll_secs=stop_poll_secs,
        )
    return q


def _parse_stop_time(spark: SparkSession, stop_time: Any) -> float | None:
    """Epoch seconds for the stop-time gate, derived via the SESSION's
    own to_timestamp (ADVICE r4): the F1 filter evaluates to_timestamp
    in spark.sql.session.timeZone, so the monitor boundary must use the
    identical conversion — a driver-side UTC strptime would stop the
    tail up to a tz-offset early/late in non-UTC sessions, silently
    dropping in-window rows. One metadata-scale local job; raises
    ValueError on unparsable values — before the query starts."""
    if stop_time is None:
        return None
    row = (
        spark.range(1)
        .select(F.unix_seconds(F.to_timestamp(F.lit(str(stop_time)))).alias("s"))
        .collect()[0]
    )
    if row["s"] is None:
        raise ValueError(
            f"stop_time {stop_time!r} is not a to_timestamp-parsable boundary "
            "('YYYY-MM-DD[ HH:MM:SS]') — the stop-condition monitor needs an "
            "exact one"
        )
    return float(row["s"])


def _watch_stop_conditions(
    q: StreamingQuery,
    *,
    metrics_path: str,
    gate_state: dict[str, Any],
    stop_time_s: float | None,
    stop_max_rows: int | None,
    stop_idle_secs: float | None,
    gtid_ranges: list,
    poll_secs: float,
) -> None:
    """Daemon monitor: polls the gate values each micro-batch publishes
    into `gate_state` and stops the query when a condition fires (see
    start_ingest docstring). query.stop() must come from outside
    foreachBatch — calling it inside the batch deadlocks."""
    import threading
    import time as _time

    def watch() -> None:
        reason = None
        while q.isActive and reason is None:
            _time.sleep(poll_secs)
            max_ts = gate_state["max_ts"]
            seen_gno = gate_state["gno"]
            last_data = gate_state["last_data"]
            if stop_time_s is not None and max_ts is not None and max_ts > stop_time_s:
                reason = "stop_time"
            elif stop_max_rows is not None and gate_state["rows"] >= stop_max_rows:
                reason = "max_rows"
            elif gtid_ranges and all(
                seen_gno.get(i, -1) >= r.stop for i, r in enumerate(gtid_ranges)
            ):
                reason = "gtid_exhausted"
            elif (
                stop_idle_secs is not None
                and (_time.time() - last_data) >= stop_idle_secs
            ):
                # armed at query start, so an all-quiet source (no batch
                # ever runs) still exits like the reference's idle stop
                reason = "idle"
        if reason is not None:
            # record the reason BEFORE stopping: it survives even if
            # stop() throws (a cancelled in-flight job surfaces as an
            # exception on some paths)
            with open(metrics_path, "a") as f:
                f.write(json.dumps({"stop_reason": reason}) + "\n")
            try:
                q.stop()
            except Exception:
                pass  # already terminating; the reason is recorded

    threading.Thread(target=watch, name="ingest-stop-monitor", daemon=True).start()


def read_metrics(table: IcebergLiteTable) -> list[dict[str, Any]]:
    p = os.path.join(table.path, "_metrics.jsonl")
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return [json.loads(line) for line in f if line.strip()]
