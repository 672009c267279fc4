"""Structured Streaming ingest: checkpoint resume, exactly-once commits,
per-micro-batch metrics, lineage."""

from __future__ import annotations

import os
import shutil

from bingo2sql_spark import oracle
from bingo2sql_spark.operators.apply import IcebergLiteTable
from bingo2sql_spark.streaming.pipeline import read_metrics, start_ingest


def _write_ordered(events, path, n_files=8):
    (
        events.repartitionByRange(n_files, "seq")
        .sortWithinPartitions("seq")
        .write.mode("overwrite")
        .parquet(path)
    )


def test_stream_ingest_and_checkpoint_resume(spark, small_events, tmp_path):
    """Phase 1: stream the first half of the log (availableNow drains it,
    checkpoint persists). Phase 2: append the second half, restart from
    the same checkpoint. Final state must equal the sequential oracle of
    the FULL log — replay from a checkpoint converges (north rule)."""
    pdf = small_events.select("seq", "op", "before", "after").toPandas()
    cut = int(pdf["seq"].max()) // 2

    land = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(land)
    _write_ordered(small_events.filter(f"seq <= {cut}"), str(tmp_path / "half1"))
    for f in os.listdir(str(tmp_path / "half1")):
        if f.endswith(".parquet"):
            shutil.copy(str(tmp_path / "half1" / f), os.path.join(land, f"a-{f}"))

    table = IcebergLiteTable(str(tmp_path / "target"), n_buckets=8)
    q = start_ingest(spark, land, table, ckpt, max_files_per_trigger=3)
    q.awaitTermination(120)

    half_state = oracle.state_checksum(oracle.sequential_apply(pdf[pdf["seq"] <= cut]))
    assert table.state_checksum(spark) == half_state
    n_batches_phase1 = len(read_metrics(table))
    assert n_batches_phase1 >= 2  # maxFilesPerTrigger forced multiple micro-batches

    # phase 2: second half arrives; resume from the same checkpoint
    _write_ordered(small_events.filter(f"seq > {cut}"), str(tmp_path / "half2"))
    for f in os.listdir(str(tmp_path / "half2")):
        if f.endswith(".parquet"):
            shutil.copy(str(tmp_path / "half2" / f), os.path.join(land, f"b-{f}"))
    q2 = start_ingest(spark, land, table, ckpt, max_files_per_trigger=3)
    q2.awaitTermination(120)

    full_state = oracle.state_checksum(oracle.sequential_apply(pdf))
    assert table.state_checksum(spark) == full_state

    # metrics were emitted per micro-batch; lineage maps buckets->snapshots
    metrics = read_metrics(table)
    assert len(metrics) > n_batches_phase1
    assert all("rows_in_batch" in m for m in metrics if not m.get("skipped"))
    man = table.latest_manifest()
    assert man["lineage"] and all("log_pos" in v for v in man["lineage"].values())
    # stream epochs dedup via the bounded per-lineage watermark (not an
    # unbounded id list): highest committed epoch == #commits - 1; the
    # watermark key is scoped by the streaming queryId (ADVICE r2)
    n_commits = len([m for m in metrics if not m.get("skipped")])
    assert man["committed_batches"] == []
    wm_keys = [k for k in man["batch_watermarks"] if k.startswith("stream-")]
    assert len(wm_keys) == 1 and wm_keys[0] != "stream-"  # queryId-scoped
    assert man["batch_watermarks"][wm_keys[0]] == n_commits - 1


def test_stream_restart_noop_when_drained(spark, small_events, tmp_path):
    """Restarting a drained stream commits nothing new (exactly-once)."""
    land = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    _write_ordered(small_events, land, n_files=4)
    table = IcebergLiteTable(str(tmp_path / "target"), n_buckets=8)
    q = start_ingest(spark, land, table, ckpt)
    q.awaitTermination(120)
    v1 = table.latest_manifest()["version"]
    chk = table.state_checksum(spark)
    q2 = start_ingest(spark, land, table, ckpt)
    q2.awaitTermination(120)
    assert table.latest_manifest()["version"] == v1
    assert table.state_checksum(spark) == chk


def test_stream_continuous_trigger(spark, small_events, tmp_path):
    """--stop-never analog: processingTime trigger tails the landing
    dir; new files are picked up by later micro-batches; manual stop()
    like the reference's DELETE /parse/:id (core/parser.go:636-642)."""
    import time

    from bingo2sql_spark import oracle

    land = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    pdf = small_events.select("seq", "op", "before", "after").toPandas()
    cut = int(pdf["seq"].max()) // 2
    _write_ordered(small_events.filter(f"seq <= {cut}"), land, n_files=2)

    table = IcebergLiteTable(str(tmp_path / "target"), n_buckets=8)
    q = start_ingest(
        spark, land, table, ckpt, available_now=False
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline and not read_metrics(table):
            time.sleep(1)
        assert read_metrics(table), "first micro-batch never committed"
        # feed the second half while the query is live
        (
            small_events.filter(f"seq > {cut}")
            .repartitionByRange(2, "seq")
            .sortWithinPartitions("seq")
            .write.mode("append")
            .parquet(land)
        )
        expected = oracle.state_checksum(oracle.sequential_apply(pdf))
        deadline = time.time() + 120
        while time.time() < deadline and table.state_checksum(spark) != expected:
            time.sleep(2)
        assert table.state_checksum(spark) == expected
    finally:
        q.stop()


def _land_sequential(events, land, n_files=8):
    """Land part files whose mtimes follow seq order, so the file stream
    (sorted by timestamp) delivers them in log order — the S1 'file
    order = event order' premise, made explicit for stop-boundary
    tests."""
    import time

    tmp = land + "_stage"
    (
        events.repartitionByRange(n_files, "seq")
        .sortWithinPartitions("seq")
        .write.mode("overwrite")
        .parquet(tmp)
    )
    os.makedirs(land, exist_ok=True)
    now = time.time()
    for i, f in enumerate(sorted(os.listdir(tmp))):
        if f.endswith(".parquet"):
            dst = os.path.join(land, f)
            shutil.copy(os.path.join(tmp, f), dst)
            os.utime(dst, (now + i, now + i))


def test_stream_self_stop_on_stop_time(spark, small_events, tmp_path):
    """A CONTINUOUS (processingTime) tail self-stops once an event
    strictly past stop_time is read (reference live-loop exit,
    core/parser.go:2262-2293), and the table equals the bounded batch
    replay with the same stop_time."""
    from bingo2sql_spark.pipeline import replay

    land, ckpt = str(tmp_path / "land"), str(tmp_path / "ckpt")
    _land_sequential(small_events, land)
    stop_time = "2024-01-01 00:15:00"  # ts = 1704067200 + seq -> seq 900
    table = IcebergLiteTable(str(tmp_path / "t"), n_buckets=8)
    q = start_ingest(
        spark, land, table, ckpt,
        available_now=False, processing_time="1 second",
        max_files_per_trigger=2, stop_poll_secs=0.3,
        stop_time=stop_time,
    )
    assert q.awaitTermination(180), "query did not self-stop"
    assert not q.isActive
    reasons = [m["stop_reason"] for m in read_metrics(table) if "stop_reason" in m]
    assert reasons == ["stop_time"]
    ref = IcebergLiteTable(str(tmp_path / "ref"), n_buckets=8)
    replay(small_events, ref, batch_id="ref", stop_time=stop_time)
    assert table.state_checksum(spark) == ref.state_checksum(spark)
    assert table.read(spark).count() > 0


def test_stream_self_stop_on_gtid_exhaustion(spark, small_events, tmp_path):
    """Continuous tail stops when every requested GTID interval is fully
    absorbed (per-uuid gno monotonicity; core/parser.go:434-437), state
    equal to the batch replay under the same gtids filter."""
    from bingo2sql_spark.pipeline import replay
    from bingo2sql_spark.sources.synth import SERVER_UUIDS

    land, ckpt = str(tmp_path / "land"), str(tmp_path / "ckpt")
    _land_sequential(small_events, land)
    spec = f"{SERVER_UUIDS[0]}:0-400,{SERVER_UUIDS[1]}:100-350"
    table = IcebergLiteTable(str(tmp_path / "t"), n_buckets=8)
    q = start_ingest(
        spark, land, table, ckpt,
        available_now=False, processing_time="1 second",
        max_files_per_trigger=2, stop_poll_secs=0.3,
        gtids=spec, stop_on_gtid_exhaustion=True,
    )
    assert q.awaitTermination(180), "query did not self-stop"
    reasons = [m["stop_reason"] for m in read_metrics(table) if "stop_reason" in m]
    assert reasons == ["gtid_exhausted"]
    ref = IcebergLiteTable(str(tmp_path / "ref"), n_buckets=8)
    replay(small_events, ref, batch_id="ref", gtids=spec)
    assert table.state_checksum(spark) == ref.state_checksum(spark)


def test_stream_self_stop_idle_and_max_rows(spark, small_events, tmp_path):
    """Source-idle exit (the reference's 10s-idle stop) and the
    cumulative max-rows cap, each on a live processingTime tail."""
    land, ckpt = str(tmp_path / "land"), str(tmp_path / "ckpt")
    _land_sequential(small_events, land, n_files=4)
    table = IcebergLiteTable(str(tmp_path / "t"), n_buckets=8)
    q = start_ingest(
        spark, land, table, ckpt,
        available_now=False, processing_time="1 second",
        stop_poll_secs=0.3, stop_idle_secs=15,
    )
    assert q.awaitTermination(180), "query did not self-stop on idle"
    reasons = [m["stop_reason"] for m in read_metrics(table) if "stop_reason" in m]
    assert reasons == ["idle"]
    # idle stop happened AFTER the backlog drained
    pdf = small_events.select("seq", "op", "before", "after").toPandas()
    assert table.state_checksum(spark) == oracle.state_checksum(
        oracle.sequential_apply(pdf)
    )

    t2 = IcebergLiteTable(str(tmp_path / "t2"), n_buckets=8)
    q2 = start_ingest(
        spark, land, t2, str(tmp_path / "ckpt2"),
        available_now=False, processing_time="1 second",
        max_files_per_trigger=1, stop_poll_secs=0.3,
        stop_max_rows=100,
    )
    assert q2.awaitTermination(180), "query did not self-stop on max rows"
    reasons = [m["stop_reason"] for m in read_metrics(t2) if "stop_reason" in m]
    assert reasons == ["max_rows"]
    committed = sum(
        m.get("rows_in_batch", 0) for m in read_metrics(t2) if not m.get("skipped")
    )
    assert committed >= 100  # batch-granularity overshoot is allowed


def test_stream_resume_after_self_stop(spark, small_events, tmp_path):
    """A tail stopped by a condition is an ORDINARY checkpoint stop:
    resuming from the same checkpoint (without the cap) drains the rest
    exactly-once and converges to the full-log state — the stop feature
    composes with recoverability instead of burning the checkpoint."""
    land, ckpt = str(tmp_path / "land"), str(tmp_path / "ckpt")
    _land_sequential(small_events, land, n_files=8)
    table = IcebergLiteTable(str(tmp_path / "t"), n_buckets=8)
    q = start_ingest(
        spark, land, table, ckpt,
        available_now=False, processing_time="1 second",
        max_files_per_trigger=1, stop_poll_secs=0.3,
        stop_max_rows=300,
    )
    assert q.awaitTermination(180), "did not stop on max rows"
    mid_rows = sum(
        m.get("rows_in_batch", 0) for m in read_metrics(table) if not m.get("skipped")
    )
    assert 300 <= mid_rows < 1600  # stopped mid-log
    # resume the SAME checkpoint without the cap: drains the remainder
    q2 = start_ingest(spark, land, table, ckpt)  # availableNow drain
    q2.awaitTermination(120)
    pdf = small_events.select("seq", "op", "before", "after").toPandas()
    assert table.state_checksum(spark) == oracle.state_checksum(
        oracle.sequential_apply(pdf)
    )


def test_stream_ingest_raw_jsonl_source(spark, small_events, tmp_path):
    """source_format='raw_jsonl': tail a raw-wire JSON-lines landing
    zone, decode in-stream, converge to the batch-replay state."""
    from bingo2sql_spark.sources.synth import to_raw

    land = str(tmp_path / "landing_jsonl")
    to_raw(small_events).write.mode("overwrite").json(land)
    table = IcebergLiteTable(str(tmp_path / "t_rawjl"), n_buckets=8)
    q = start_ingest(
        spark,
        land,
        table,
        str(tmp_path / "ckpt_rawjl"),
        source_format="raw_jsonl",
        tables=["repo_files"],
    )
    q.awaitTermination(120)
    ref = IcebergLiteTable(str(tmp_path / "t_rawjl_ref"), n_buckets=8)
    from bingo2sql_spark.pipeline import replay

    replay(small_events, ref, batch_id="ref", tables=["repo_files"])
    assert table.state_checksum(spark) == ref.state_checksum(spark)


def test_stream_ingest_raw_socket_source(spark, small_events, tmp_path):
    """source_format='raw_socket': a PUSH-based TCP tail (the
    replication-protocol-client shape, vs the pull/file listing) decodes
    in-stream and converges to the batch-replay state; the idle stop
    condition drains it (a socket source has no availableNow)."""
    import socket
    import threading

    from bingo2sql_spark.pipeline import replay
    from bingo2sql_spark.sources.synth import to_raw

    lines = "\n".join(to_raw(small_events).toJSON().collect()) + "\n"
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    done = threading.Event()

    def serve():
        conn, _ = srv.accept()
        conn.sendall(lines.encode())
        done.wait(180)  # keep the connection open until the test ends
        conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    table = IcebergLiteTable(str(tmp_path / "t_sock"), n_buckets=8)
    try:
        q = start_ingest(
            spark, f"127.0.0.1:{port}", table, str(tmp_path / "ckpt_sock"),
            source_format="raw_socket",
            available_now=False, processing_time="1 second",
            stop_poll_secs=0.3, stop_idle_secs=15,
            tables=["repo_files"],
        )
        assert q.awaitTermination(180), "socket tail did not idle-stop"
    finally:
        done.set()
        srv.close()
    ref = IcebergLiteTable(str(tmp_path / "t_sock_ref"), n_buckets=8)
    replay(small_events, ref, batch_id="ref", tables=["repo_files"])
    assert table.state_checksum(spark) == ref.state_checksum(spark)
    assert table.read(spark).count() > 0


def test_stream_ingest_minimal_into_mor(spark, tmp_path):
    """Composition of the two round-4 features: a MINIMAL row-image
    stream ingested into a merge-on-read table through foreachBatch —
    per-column delta merge at read time — equals the sequential
    oracle."""
    from bingo2sql_spark.sources.synth import generate_events

    ev = generate_events(spark, n_keys=150, versions_per_key=8, n_repos=15,
                         seed=9, minimal_image=True)
    land = str(tmp_path / "landing_min")
    _write_ordered(ev, land, n_files=4)
    table = IcebergLiteTable(str(tmp_path / "mor_min"), n_buckets=8,
                             write_mode="mor")
    q = start_ingest(spark, land, table, str(tmp_path / "ckpt_min"),
                     max_files_per_trigger=2, row_image="MINIMAL")
    q.awaitTermination(120)
    assert table.latest_manifest()["partial_state"] is True
    pdf = ev.select("seq", "op", "before", "after", "changed_cols").toPandas()
    assert table.state_checksum(spark) == oracle.state_checksum(
        oracle.sequential_apply(pdf)
    )
    table.compact(spark)
    assert table.state_checksum(spark) == oracle.state_checksum(
        oracle.sequential_apply(pdf)
    )


def test_stream_ingest_mor_table(spark, small_events, tmp_path):
    """Streaming ingest into a merge-on-read table: every micro-batch is
    a delta append (no stored data read), restart from the checkpoint is
    a no-op, and the final state equals the sequential oracle."""
    land = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(land)
    _write_ordered(small_events, land)

    table = IcebergLiteTable(str(tmp_path / "mor"), n_buckets=8, write_mode="mor")
    q = start_ingest(spark, land, table, ckpt, max_files_per_trigger=3)
    q.awaitTermination(120)

    pdf = small_events.select("seq", "op", "before", "after").toPandas()
    assert table.state_checksum(spark) == oracle.state_checksum(
        oracle.sequential_apply(pdf)
    )
    mets = [m for m in read_metrics(table) if not m.get("skipped")]
    assert len(mets) >= 2 and all(m["mode"] == "mor" for m in mets)
    assert table.latest_manifest()["metrics"]["delta_depth"] >= 2

    # restart on a drained landing zone commits nothing new
    q2 = start_ingest(spark, land, table, ckpt, max_files_per_trigger=3)
    q2.awaitTermination(120)
    assert len([m for m in read_metrics(table) if not m.get("skipped")]) == len(mets)
    # compaction preserves the streamed state
    table.compact(spark)
    assert table.state_checksum(spark) == oracle.state_checksum(
        oracle.sequential_apply(pdf)
    )


def test_stream_idle_stop_on_empty_source(spark, small_events, tmp_path):
    """An all-quiet source (no batch ever runs) still idle-stops: the
    countdown arms at query start (the reference exits on idle even
    before any event arrives)."""
    land = str(tmp_path / "empty_land")
    os.makedirs(land, exist_ok=True)
    table = IcebergLiteTable(str(tmp_path / "t_empty"), n_buckets=8)
    q = start_ingest(
        spark, land, table, str(tmp_path / "ckpt_empty"),
        available_now=False, processing_time="1 second",
        stop_poll_secs=0.3, stop_idle_secs=5,
    )
    assert q.awaitTermination(120), "empty source did not idle-stop"
    reasons = [m["stop_reason"] for m in read_metrics(table) if "stop_reason" in m]
    assert reasons == ["idle"]
    assert table.latest_manifest() is None  # nothing committed


def test_signature_store_lockstep_with_stream(spark, small_events, tmp_path):
    """Continuous curation: a SignatureStore driven by the on_commit
    hook stays in lockstep with the streamed table — after the drain,
    stored signatures == a full recompute over the final state; the
    store's version pointer tracks the table head; maxFilesPerTrigger
    forces multiple micro-batches so the incremental path (not just the
    bootstrap) is exercised."""
    from bingo2sql_spark.operators import dedup as DD

    land = str(tmp_path / "landing_sig")
    _write_ordered(small_events, land)
    table = IcebergLiteTable(str(tmp_path / "target_sig"), n_buckets=8)
    store = DD.SignatureStore(str(tmp_path / "sigs"), ["repo", "path"], k=4)
    modes = []

    def hook(tbl, metrics):
        modes.append(store.refresh(spark, tbl)["mode"])

    q = start_ingest(
        spark, land, table, str(tmp_path / "ckpt_sig"),
        max_files_per_trigger=3, on_commit=hook,
    )
    q.awaitTermination(240)
    assert "bootstrap" in modes[:1] and "incremental" in modes  # both paths ran
    assert store.version() == table.latest_manifest()["version"]
    cols = ["repo", "path"] + [f"mh{i}" for i in range(4)]
    got = {tuple(r) for r in store.read(spark).select(*cols).collect()}
    full = {
        tuple(r)
        for r in DD.minhash_signature_keyed(
            table.read(spark), ["repo", "path"], text_col="content", k=4
        ).select(*cols).collect()
    }
    assert got == full and got
    # idempotent re-refresh: no table movement -> skipped
    assert store.refresh(spark, table)["mode"] == "skipped"


def test_signature_store_expired_history_bootstraps(spark, small_events, tmp_path):
    """If the store's reflected version expires from table history, the
    refresh falls back to a full bootstrap instead of silently staying
    stale."""
    from bingo2sql_spark.operators import dedup as DD
    from bingo2sql_spark.pipeline import replay

    t = IcebergLiteTable(str(tmp_path / "exp"), n_buckets=4)
    replay(small_events.filter("seq < 400"), t, batch_id="b1")
    store = DD.SignatureStore(str(tmp_path / "exp_sigs"), ["repo", "path"], k=4)
    assert store.refresh(spark, t)["mode"] == "bootstrap"
    replay(small_events.filter("seq >= 400 and seq < 800"), t, batch_id="b2")
    replay(small_events.filter("seq >= 800"), t, batch_id="b3")
    t.compact(spark)
    # drop every data dir the store's old version referenced
    import os as _os
    for d in _os.listdir(_os.path.join(t.path, "_manifests")):
        v = int(d.split("-")[1].split(".")[0])
        if v <= 1:
            _os.remove(_os.path.join(t.path, "_manifests", d))
    r = store.refresh(spark, t)
    assert r["mode"] == "bootstrap"
    cols = ["repo", "path"] + [f"mh{i}" for i in range(4)]
    got = {tuple(x) for x in store.read(spark).select(*cols).collect()}
    full = {
        tuple(x)
        for x in DD.minhash_signature_keyed(
            t.read(spark), ["repo", "path"], text_col="content", k=4
        ).select(*cols).collect()
    }
    assert got == full


def _stream_evo_schema():
    """Envelope + statement whose payload carries both spellings of the
    renamed column plus the ADDed column (producers race DDL mid-tail)."""
    import pyspark.sql.types as T

    payload = T.StructType([
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("language", T.StringType()),
        T.StructField("stars", T.LongType()),
        T.StructField("content", T.StringType()),
    ])
    return T.StructType([
        T.StructField("seq", T.LongType()),
        T.StructField("log_file", T.StringType()),
        T.StructField("log_pos", T.LongType()),
        T.StructField("gtid_uuid", T.StringType()),
        T.StructField("gno", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("thread_id", T.LongType()),
        T.StructField("db", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("before", payload),
        T.StructField("after", payload),
        T.StructField("changed_cols", T.ArrayType(T.StringType())),
        T.StructField("schema_ver", T.IntegerType()),
        T.StructField("statement", T.StringType()),
    ])


def _stream_evo_row(seq, op, key, commit=None, lang=None, language=None,
                    stars=None, content=None, stmt=None):
    import datetime

    after = None if op in ("delete", "ddl") else {
        "repo": "r1", "path": key, "commit": commit, "lang": lang,
        "language": language, "stars": stars, "content": content,
    }
    before = None if op in ("insert", "ddl") else {
        "repo": "r1", "path": key, "commit": "c0", "lang": "x",
        "language": None, "stars": None, "content": "x",
    }
    return (seq, "bin.1", seq, None, None, datetime.datetime(2024, 1, 1), 1,
            "test", "repo_files", op, before, after, None, 1, stmt)


def _stream_evo_meta():
    from bingo2sql_spark import ddl as DL

    return DL.parse_schema_text(
        "CREATE TABLE test.repo_files (repo varchar(64), path varchar(255), "
        "commit varchar(40), lang varchar(16), content text, "
        "PRIMARY KEY (repo, path))"
    )["test.repo_files"]


def test_stream_ingest_evolves_from_ddl(spark, tmp_path):
    """VERDICT r7 #2 e2e: ALTER TABLE ADD + CHANGE arriving MID-TAIL in
    a continuous ingest evolve the target schema inside foreachBatch —
    including a checkpoint restart BETWEEN the two ALTERs where the
    caller still passes the ORIGINAL registry entry (the persisted
    `_schema_meta.json` must win). Final state ≡ the one-shot batch
    replay differential ≡ an explicit dict oracle. The reference
    applies DDL inline in its live loop (core/parser.go:2314-2339)."""
    schema = _stream_evo_schema()
    meta = _stream_evo_meta()
    keys = [f"f{i}" for i in range(6)]

    phase_a = [
        _stream_evo_row(i + 1, "insert", k, commit=f"c{i}", lang=f"L{i}",
                        content=f"v{i}")
        for i, k in enumerate(keys)
    ]
    phase_b = [
        # pre-ALTER wire update
        _stream_evo_row(50, "update", "f0", commit="c50", lang="pre",
                        content="v0b"),
        _stream_evo_row(100, "ddl", None,
                        stmt="ALTER TABLE test.repo_files ADD COLUMN stars bigint"),
        # post-ADD wire update carries the new column
        _stream_evo_row(101, "update", "f1", commit="c51", lang="L1",
                        stars=7, content="v1b"),
    ]
    phase_c = [
        _stream_evo_row(200, "ddl", None,
                        stmt="ALTER TABLE test.repo_files CHANGE lang "
                             "language varchar(64)"),
        # post-rename wire update: NEW spelling only
        _stream_evo_row(201, "update", "f2", commit="c52", language="post",
                        stars=9, content="v2b"),
    ]

    land = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(land)

    def _land(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(str(tmp_path / name))
        for f in os.listdir(str(tmp_path / name)):
            if f.endswith(".parquet"):
                shutil.copy(str(tmp_path / name / f),
                            os.path.join(land, f"{name}-{f}"))

    _land(phase_a, "a")
    _land(phase_b, "b")

    table = IcebergLiteTable(str(tmp_path / "target"), n_buckets=4)
    q = start_ingest(
        spark, land, table, ckpt, max_files_per_trigger=1,
        table_meta=meta, source_schema=schema,
    )
    q.awaitTermination(180)

    mid = table.read(spark)
    assert "stars" in mid.columns and "language" not in mid.columns
    got_mid = {r["path"]: (r["lang"], r["stars"]) for r in mid.collect()}
    # evolved tables store values as text (ddl-layer convention)
    assert got_mid["f1"] == ("L1", "7") and got_mid["f0"] == ("pre", None)

    # restart from the checkpoint with the ORIGINAL meta: the persisted
    # evolved registry entry must take precedence, and phase C's rename
    # must apply on top of it
    _land(phase_c, "c")
    q2 = start_ingest(
        spark, land, table, ckpt, max_files_per_trigger=1,
        table_meta=meta, source_schema=schema,
    )
    q2.awaitTermination(180)

    cur = table.read(spark)
    assert "language" in cur.columns and "lang" not in cur.columns
    got = {r["path"]: (r["language"], r["stars"], r["content"])
           for r in cur.collect()}
    expect = {k: (f"L{i}", None, f"v{i}") for i, k in enumerate(keys)}
    expect["f0"] = ("pre", None, "v0b")
    expect["f1"] = ("L1", "7", "v1b")
    expect["f2"] = ("post", "9", "v2b")
    assert got == expect

    # exactly-once: a drained restart commits nothing new
    v = table.latest_manifest()["version"]
    q3 = start_ingest(
        spark, land, table, ckpt, max_files_per_trigger=1,
        table_meta=meta, source_schema=schema,
    )
    q3.awaitTermination(180)
    assert table.latest_manifest()["version"] == v

    # differential: the one-shot batch replay of the SAME log over a
    # fresh table lands on the identical final state
    from bingo2sql_spark.pipeline import replay

    all_events = spark.createDataFrame(phase_a + phase_b + phase_c, schema)
    control = IcebergLiteTable(str(tmp_path / "control"), n_buckets=4)
    replay(all_events, control, batch_id="all", table_meta=_stream_evo_meta())
    ctl = {r["path"]: (r["language"], r["stars"], r["content"])
           for r in control.read(spark).collect()}
    assert ctl == got
    assert table.state_checksum(spark) == control.state_checksum(spark)


def test_stream_curation_ivf_kill_resume(spark, small_events, tmp_path):
    """VERDICT r7 #7 — the composed continuous-curation loop, one test:
    a streaming ingest's on_commit hook drives (a) SignatureStore.refresh
    (embedding family), (b) incremental IVF cell maintenance
    (update_ivf_assignments over the commit's changelog window), and
    (c) the cell-balance retrain trigger — with the query killed
    mid-stream (self-stop on max rows) and resumed from its checkpoint.

    The IVF window chains off the ASSIGNMENT pointer, not refresh()'s
    from/to: a crash after refresh but before the assignment write makes
    the next hook call see refresh()=skipped while the pointer still
    lags, and the maintenance catches up from the pointer — the same
    write-then-point recoverability contract the store itself uses.

    Final invariants: signatures == full recompute over the final table;
    maintained assignments == a full ivf_assign_cells of the final
    signatures under the fixed quantizer; the retrain trigger was
    consulted on every commit, and tripping it retrains + full-reassigns
    consistently."""
    import json as _json

    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from bingo2sql_spark.operators import dedup as DD
    from bingo2sql_spark.operators import similarity as SIM

    KEYS = ["repo", "path"]
    N_CENTS = 8

    def cents_from(sigs, n):
        # deterministic quantizer: first n signature rows in key order
        # (metadata-scale; a real deployment calls train_centroids)
        w = Window.orderBy(*KEYS)
        return (
            sigs.withColumn("vec_id", F.row_number().over(w) - 1)
            .filter(F.col("vec_id") < n)
            .select("vec_id", "embedding")
        )

    land, ckpt = str(tmp_path / "land"), str(tmp_path / "ckpt")
    _land_sequential(small_events, land, n_files=8)
    table = IcebergLiteTable(str(tmp_path / "t"), n_buckets=8)
    store = DD.SignatureStore(
        str(tmp_path / "sigs"), KEYS, family="embedding", dim=16
    )
    cent_dir = str(tmp_path / "cents")
    assign_root = str(tmp_path / "assign")
    ptr_path = str(tmp_path / "assign_ptr.json")
    os.makedirs(assign_root, exist_ok=True)
    modes, retrain_consulted = [], []

    def _assign_dir(v):
        return os.path.join(assign_root, f"v{v:012d}")

    def hook(tbl, metrics):
        modes.append(store.refresh(spark, tbl)["mode"])
        cur = int(tbl.latest_manifest()["version"])
        ptr = None
        if os.path.exists(ptr_path):
            with open(ptr_path) as f:
                ptr = int(_json.load(f)["version"])
        if ptr == cur:
            return
        sigs = store.read(spark)
        if ptr is None:
            cents_from(sigs, N_CENTS).write.mode("overwrite").parquet(cent_dir)
            cents = spark.read.parquet(cent_dir)
            assign = SIM.ivf_assign_cells(
                sigs, cents, id_cols=KEYS, vec_col="embedding",
                centroid_id_col="vec_id",
            )
        else:
            cents = spark.read.parquet(cent_dir)
            ch = tbl.changes_between(spark, ptr, cur)
            changed = (
                ch.select(*KEYS, (F.col("op") == "delete").alias("_gone"))
                .join(sigs, KEYS, "left")
                .select(*KEYS, "embedding", "_gone")
            )
            assign = SIM.update_ivf_assignments(
                spark.read.parquet(_assign_dir(ptr)), changed, cents,
                id_cols=KEYS, vec_col="embedding",
                centroid_id_col="vec_id", deleted_col="_gone",
            )
        assign.write.mode("overwrite").parquet(_assign_dir(cur))
        retrain_consulted.append(SIM.ivf_needs_retrain(
            spark.read.parquet(_assign_dir(cur)), N_CENTS,
            max_skew=1e9, max_empty_frac=1.0,  # consulted; never trips here
        ))
        tmp = ptr_path + ".tmp"
        with open(tmp, "w") as f:
            _json.dump({"version": cur}, f)
        os.replace(tmp, ptr_path)

    # phase 1: continuous tail, killed mid-log by the row cap
    q = start_ingest(
        spark, land, table, ckpt,
        available_now=False, processing_time="1 second",
        max_files_per_trigger=1, stop_poll_secs=0.3,
        stop_max_rows=300, on_commit=hook,
    )
    assert q.awaitTermination(300), "did not stop on max rows"
    mid_commits = len([m for m in read_metrics(table) if not m.get("skipped")])
    assert mid_commits >= 1 and modes[:1] == ["bootstrap"]

    # phase 2: resume the SAME checkpoint; drain the rest exactly-once
    q2 = start_ingest(spark, land, table, ckpt, max_files_per_trigger=2,
                      on_commit=hook)
    q2.awaitTermination(300)
    n_commits = len([m for m in read_metrics(table) if not m.get("skipped")])
    assert n_commits > mid_commits
    assert "incremental" in modes  # the resume took the changelog path
    assert len(retrain_consulted) == n_commits and not any(retrain_consulted)

    # signatures converged: store == full recompute of the final state
    final = table.read(spark)
    cols = KEYS + ["embedding"]
    got_sigs = {tuple(map(str, r)) for r in store.read(spark).select(*cols).collect()}
    want_sigs = {
        tuple(map(str, r))
        for r in DD.embedding_signature_keyed(
            final, KEYS, text_col="content", dim=16
        ).select(*cols).collect()
    }
    assert got_sigs == want_sigs and got_sigs

    # maintained assignments == full re-assign under the fixed quantizer
    with open(ptr_path) as f:
        ptr = int(_json.load(f)["version"])
    assert ptr == int(table.latest_manifest()["version"])
    cents = spark.read.parquet(cent_dir)
    maintained = spark.read.parquet(_assign_dir(ptr))
    full = SIM.ivf_assign_cells(
        store.read(spark), cents, id_cols=KEYS, vec_col="embedding",
        centroid_id_col="vec_id",
    )
    a = {(r["repo"], r["path"], r["_cell"]) for r in maintained.collect()}
    b = {(r["repo"], r["path"], r["_cell"]) for r in full.collect()}
    assert a == b and a

    # the probe cache serves the store's final version (hot path)
    assert store.probes(spark).count() > 0

    # tripping the trigger retrains: threshold just under the measured
    # skew -> True; the documented recipe (new quantizer over current
    # sigs + one full assign) covers every live key under the new cells
    bal = SIM.ivf_cell_balance(maintained, N_CENTS)
    assert SIM.ivf_needs_retrain(maintained, N_CENTS, max_skew=bal["skew"] - 1e-6)
    cents2 = cents_from(store.read(spark), 2 * N_CENTS)
    reassigned = SIM.ivf_assign_cells(
        store.read(spark), cents2, id_cols=KEYS, vec_col="embedding",
        centroid_id_col="vec_id",
    )
    assert reassigned.count() == len(a)
    cent_ids = {r["vec_id"] for r in cents2.collect()}
    assert {r["_cell"] for r in reassigned.collect()} <= cent_ids

    # hook idempotence at head: refresh skips, pointer already current
    assert store.refresh(spark, table)["mode"] == "skipped"
