"""Plan-quality assertions: the things .explain() must show for the
engine to hold at 100 TB — filter pushdown into the parquet scan, column
pruning, broadcast of small dims, map-side partial aggregation, no
Python UDFs in the relational path."""

from __future__ import annotations

import collections
import gc
import os
import time

import pytest
from pyspark.sql import functions as F

TESTDATA = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _jobs(spark, group: str, fn):
    """(fn(), the number of Spark jobs it ran), counted through a job
    group set around the call."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_plans(monkeypatch) -> list[str]:
    """The executed plan of every DataFrameWriter.parquet call, appended
    to the returned list until monkeypatch.undo()."""
    from pyspark.sql.readwriter import DataFrameWriter

    written = []
    parquet = DataFrameWriter.parquet

    def capturing(self, *args, **kwargs):
        written.append(_plan(self._df))
        return parquet(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", capturing)
    return written


def test_filters_push_into_parquet_scan(spark):
    """F1/F5-style predicates on raw scans must reach the reader
    (PushedFilters) — reading then filtering 100 TB is the failure mode."""
    ev = spark.read.parquet(os.path.join(TESTDATA, "events.parquet"))
    from bingo2sql_spark.operators import filters as FL

    q = ev.filter(FL.time_range("2024-01-02 00:00:00", "2024-01-04 23:59:59")).select(
        "event_id", "ts"
    )
    plan = _plan(q)
    assert "PushedFilters: [" in plan
    assert "IsNotNull(ts)" in plan or "GreaterThanOrEqual(ts" in plan, plan


def test_column_pruning_reaches_scan(spark):
    """A 2-column projection must not read all columns (ReadSchema)."""
    docs = spark.read.parquet(os.path.join(TESTDATA, "documents.parquet"))
    q = docs.select("doc_id", F.length("text").alias("n"))
    plan = _plan(q)
    seg = plan.split("ReadSchema")[-1]
    assert "doc_id" in seg and "text" in seg
    assert "source" not in seg and "n_chars" not in seg, seg


def test_schema_registry_join_broadcasts(spark):
    """Event->schema resolution (SURVEY §2.5) must be a broadcast hash
    join, never a shuffle of the event stream."""
    from bingo2sql_spark.sources.synth import generate_events

    ev = generate_events(spark, n_keys=100, versions_per_key=4)
    registry = spark.createDataFrame(
        [(1, "v1"), (2, "v2")], "schema_ver int, registry_tag string"
    )
    q = ev.join(F.broadcast(registry), "schema_ver")
    assert "BroadcastHashJoin" in _plan(q)


def test_merge_aggregate_has_partial_combine(spark):
    """The LWW merge must plan a partial (map-side) aggregate before the
    exchange — at 10^10 events the pre-shuffle combine is the difference
    between shipping v rows per key and one."""
    from bingo2sql_spark.operators import resolve as R
    from bingo2sql_spark.sources.synth import generate_events

    ev = R.with_key(generate_events(spark, n_keys=100, versions_per_key=4))
    resolved = R.lww_resolve(ev)
    plan = _plan(resolved)
    assert "partial_max_by" in plan, plan
    assert plan.index("partial_max_by") > plan.index("Exchange hashpartitioning") or (
        "Exchange hashpartitioning" in plan.split("partial_max_by")[1]
    ), "partial agg must sit below the exchange"


def test_commit_merge_single_exchange(spark, tmp_path, monkeypatch):
    """The commit MERGE must plan exactly ONE full-data exchange: the
    union repartitions by bucket and the (bucket, keys) aggregate reuses
    that partitioning (bucket is a function of the keys), so there is no
    second shuffle between the merge and the bucket-clustered write —
    at 10^10 events the removed exchange was ~45% of shuffled bytes.
    The plan is the one a fresh-table commit hands to its parquet
    write."""
    from bingo2sql_spark.operators import resolve as R
    from bingo2sql_spark.operators.apply import IcebergLiteTable
    from bingo2sql_spark.sources.synth import generate_events

    written = _write_plans(monkeypatch)
    ev = generate_events(spark, n_keys=200, versions_per_key=4)
    t = IcebergLiteTable(str(tmp_path / "t"), n_buckets=16)
    t.commit(R.to_upsert_rows(R.with_key(ev)), "load")
    monkeypatch.undo()
    (plan,) = written
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # and that one exchange partitions by bucket, not by the merge keys
    frag = plan.split("Exchange hashpartitioning", 1)[1][:120]
    assert "bucket" in frag, frag


def test_no_python_udf_in_relational_path(spark):
    """Filters, flashback, LWW, upsert projection: pure Column exprs —
    a BatchEvalPython/ArrowEvalPython node here would serialize the
    whole stream through Python."""
    from bingo2sql_spark.operators import filters as FL
    from bingo2sql_spark.operators import flashback as FB
    from bingo2sql_spark.operators import resolve as R
    from bingo2sql_spark.sources.synth import generate_events

    ev = generate_events(spark, n_keys=100, versions_per_key=4)
    q = R.to_upsert_rows(
        R.with_key(FB.invert(FL.apply_filters(ev, tables=["repo_files"], flashback=True)))
    )
    plan = _plan(q)
    assert "EvalPython" not in plan and "MapInPandas" not in plan, plan
    # a Python-RDD scan (createDataFrame over a Python list) runs Python
    # worker tasks just the same
    assert "ExistingRDD" not in plan, plan


def test_bucket_pruning_reads_only_affected(spark, tmp_path):
    """Manifest-level pruning: a commit touching 1 key reads only that
    key's bucket, not the table (the Iceberg copy-on-write shape)."""
    from bingo2sql_spark.operators.apply import IcebergLiteTable
    from bingo2sql_spark.pipeline import replay
    from bingo2sql_spark.sources.synth import generate_events

    ev = generate_events(spark, n_keys=400, versions_per_key=4, seed=3)
    t = IcebergLiteTable(str(tmp_path / "t"), n_buckets=32)
    replay(ev, t, batch_id="load")
    one_key = ev.filter("seq = 0")
    m = replay(one_key, t, batch_id="one")
    assert m["buckets_rewritten"] == 1
    # and the new snapshot dir contains exactly one bucket partition
    # (dirs carry a per-attempt uuid suffix; resolve via the manifest)
    snap_name = t.latest_manifest()["snap_dirs"][str(m["snapshot"])]
    snap = os.path.join(t.path, "data", snap_name)
    assert len([d for d in os.listdir(snap) if d.startswith("pbucket=")]) == 1


def test_hot_key_skew_many_versions(spark, tmp_path):
    """Skew story: a key updated thousands of times in one batch must not
    concentrate work — map-side combine collapses each map partition to
    one row per key before the shuffle, so the reducer sees at most
    #map-partitions rows per key regardless of version count."""
    from bingo2sql_spark import oracle
    from bingo2sql_spark.operators.apply import IcebergLiteTable
    from bingo2sql_spark.pipeline import replay
    from bingo2sql_spark.sources.synth import generate_events

    ev = generate_events(spark, n_keys=8, versions_per_key=2000, n_repos=2, seed=5)
    pdf = ev.select("seq", "op", "before", "after").toPandas()
    t = IcebergLiteTable(str(tmp_path / "t"), n_buckets=4)
    replay(ev, t, batch_id="hot")
    assert t.state_checksum(spark) == oracle.state_checksum(oracle.sequential_apply(pdf))


def test_event_layout_partition_pruning(spark, small_events, tmp_path):
    """S3: the binlog-file auto-discovery analog — a log_file predicate
    prunes partitions at planning time (PartitionFilters), and the S4
    master-status analog reports the max landed position."""
    from bingo2sql_spark.sources.layout import head_position, land_events, read_events

    path = str(tmp_path / "landed")
    land_events(small_events, path)
    df = read_events(spark, path)
    q = df.filter(F.col("p_file") == "bin.000001").select("seq", "log_pos")
    plan = _plan(q)
    assert "PartitionFilters: [" in plan and "p_file" in plan.split("PartitionFilters")[1].split("]")[0]
    assert q.count() == small_events.filter("log_file = 'bin.000001'").count()
    hf, hp = head_position(spark, path)
    mx = small_events.agg(F.max(F.struct("log_file", "log_pos")).alias("m")).collect()[0]["m"]
    assert (hf, hp) == (mx["log_file"], mx["log_pos"])


def test_filters_push_below_decode(spark, small_events, tmp_path):
    """Catalyst must reorder F1/F4 predicates BELOW the from_json decode
    projection and into the raw scan — decoding 100 TB then filtering is
    the failure mode (SURVEY §4: filters upstream of widening ops)."""
    from bingo2sql_spark.operators import filters as FL
    from bingo2sql_spark.sources.decode import decode_events
    from bingo2sql_spark.sources.synth import to_raw

    p = str(tmp_path / "raw")
    to_raw(small_events).write.parquet(p)
    raw = spark.read.parquet(p)
    q = FL.apply_filters(
        decode_events(raw), tables=["repo_files"], start_time="2024-01-01 00:01:00"
    )
    plan = _plan(q)
    pushed = plan.split("PushedFilters: [")[1].split("ReadSchema")[0]
    assert "GreaterThanOrEqual(ts" in pushed
    # decode (from_json) must appear ABOVE the filter in the plan tree
    assert plan.index("from_json") < plan.index("FileScan")
    assert "Filter" in plan.split("from_json")[-1]


def test_typed_decode_prunes_nested_before_image(spark, small_events, tmp_path):
    """Typed-wire decode with the before image narrowed to the merge
    keys must compose with nested-schema pruning: the parquet ReadSchema
    carries only before.repo/before.path — the before-image payload
    bytes (content dominates) are never read off disk. This is the
    scale payoff of the typed landing (VERDICT r3 #1): decode is not
    just parse-free, it also shrinks the scan."""
    from bingo2sql_spark.sources.decode import decode_events_typed
    from bingo2sql_spark.sources.synth import to_raw_typed

    p = str(tmp_path / "typed_raw")
    to_raw_typed(small_events).write.parquet(p)
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try:
        q = decode_events_typed(
            spark.read.parquet(p), before_fields=["repo", "path"]
        )
        plan = _plan(q)
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert "from_json" not in plan  # pure projection
    read = plan.split("ReadSchema: ")[-1]
    before_seg = read.split("before:struct<")[1].split(">")[0]
    assert "repo" in before_seg and "path" in before_seg
    assert "content" not in before_seg, before_seg


def test_decorate_window_is_partitioned(spark, small_events):
    """S6 decoration must not funnel the data path through a single
    partition: the lag window sits directly on the range exchange of the
    seq block (the one exchange the artifact's (_blk, seq) order reuses);
    only the metadata-scale carry aggregate (one row per block) may see
    a SinglePartition exchange."""
    from bingo2sql_spark.functions.render import decorate, render_sql

    plan = _plan(decorate(render_sql(small_events)))
    lines = plan.splitlines()
    (at,) = [i for i, ln in enumerate(lines) if "Window [row_number()" in ln]
    assert "Sort [_blk" in lines[at + 1], plan
    assert "Exchange rangepartitioning(_blk" in lines[at + 2], plan
    # any single-partition exchange must sit above the per-block
    # aggregate (max_by carry), never above the full-width stream
    for frag in plan.split("Exchange SinglePartition")[1:]:
        assert "max_by" in frag or "HashAggregate" in frag


def test_degenerate_bucket_caps_default_on(spark):
    """VERDICT r4 #3: the dedup pair generators must carry their
    degenerate-bucket cap sub-plan BY DEFAULT — a naive caller at corpus
    scale must not get the quadratic boilerplate blow-up. Two deliberate
    cap shapes exist since r9: minhash/ngram cap with a bucket-count
    WINDOW over the band exchange (the candidate join reuses its
    partitioning — one exchange instead of groupBy + semi-join), while
    the simhash generator keeps the count + semi/anti-join (its pair
    expansion is orders of magnitude larger than the band table, and
    AQE's coalescing of the small window exchange would starve it)."""
    from bingo2sql_spark.operators import dedup as DD

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma w{i} delta epsilon zeta eta") for i in range(30)],
        ["doc_id", "text"],
    )
    for df in (
        DD.minhash_candidate_pairs(docs),
        DD.ngram_jaccard_pairs(docs, threshold=0.1),
    ):
        plan = _optimized(df)
        # window-count cap: count over the band partition + <= filter
        assert "windowspecdefinition" in plan and "count(" in plan, plan
        assert "<= " in plan, plan
    plan = _optimized(DD.simhash_pairs_banded(docs))
    # the cap materializes as a semi join (keep-list) or anti join
    # (drop-list) against the bucket-count aggregate
    assert "LeftSemi" in plan or "LeftAnti" in plan, plan
    assert "count(" in plan, plan


def test_cap_drop_is_logged(spark, caplog):
    """No silent caps: log_dropped=True must log the exact number of
    groups the cap drops (warning when nonzero), and the default logs
    the cap's activation."""
    import logging

    from bingo2sql_spark.operators import dedup as DD

    boiler = spark.createDataFrame(
        [(i, "same same same words") for i in range(20)], ["doc_id", "text"]
    )
    with caplog.at_level(logging.INFO, logger="bingo2sql_spark.dedup"):
        out = DD.simhash_pairs_banded(
            boiler, n_bits=16, bands=2, max_hamming=1, max_bucket_size=10,
            log_dropped=True,
        )
        assert out.count() == 0
    hits = [r for r in caplog.records if "cap dropped" in r.getMessage()]
    # the one boilerplate signature fills one bucket per band
    assert hits and "dropped 2" in hits[0].getMessage(), [
        r.getMessage() for r in caplog.records
    ]
    assert hits[0].levelno == logging.WARNING
    caplog.clear()
    with caplog.at_level(logging.INFO, logger="bingo2sql_spark.dedup"):
        DD.simhash_pairs_banded(boiler, n_bits=16, bands=2, max_hamming=1, max_bucket_size=10)
    assert any("cap active" in r.getMessage() for r in caplog.records)


def test_bucket_aligned_landing_feeds_pass_through_exchange(spark, tmp_path):
    """land_bucket_aligned (r7 #1): the landing is physically
    partitioned by the TABLE's bucket function, decode projects the
    partition column away, and replay over it produces the same single
    bucket exchange — but each map task now holds one bucket's keys, so
    per-split combine maps are bucket-sized. Cheap proxy assertions:
    the landing dir has pbucket=*/ partitions whose row buckets all
    match the dir, and the decoded frame matches the flat landing's."""
    import os

    from bingo2sql_spark.operators.apply import bucket_col
    from bingo2sql_spark.sources.decode import decode_events_typed
    from bingo2sql_spark.sources.layout import land_bucket_aligned
    from bingo2sql_spark.sources.synth import generate_events, to_raw_typed

    ev = generate_events(spark, n_keys=100, versions_per_key=3, seed=5)
    raw = to_raw_typed(ev)
    out = str(tmp_path / "landing")
    land_bucket_aligned(raw, out, n_buckets=8)
    parts = sorted(d for d in os.listdir(out) if d.startswith("pbucket="))
    assert parts and all("=" in p for p in parts)
    landed = spark.read.parquet(out)
    # dir partition == the bucket function of the row's merge keys;
    # bucket_col reads top-level repo/path, so rebuild them like the
    # writer did
    import pyspark.sql.functions as F
    keyed = landed.withColumn(
        "repo", F.coalesce(F.col("after.repo"), F.col("before.repo"))
    ).withColumn(
        "path", F.coalesce(F.col("after.path"), F.col("before.path"))
    )
    bad = keyed.withColumn("_expect", bucket_col(8)).filter(
        F.col("pbucket") != F.col("_expect")
    ).count()
    assert bad == 0
    # decode ignores the extra partition column and round-trips the set
    dec = decode_events_typed(landed.drop("pbucket"))
    flat = decode_events_typed(raw)
    assert dec.count() == flat.count()
    assert {r["seq"] for r in dec.select("seq").collect()} == {
        r["seq"] for r in flat.select("seq").collect()
    }


def _flashback_binlog(tmp_path):
    """A checksummed binlog file: 60 inserts, then updates of every
    second row and deletes of the others. Returns (path, the position
    where the updates start)."""
    from bingo2sql_spark.sources.binlog_binary import T_VARCHAR, BinlogWriter

    cols = ["repo", "path", "commit", "lang", "content"]
    types, meta = [T_VARCHAR] * len(cols), [64, 64, 64, 16, 512]
    rows = [[f"r{i % 7}", f"src/f{i}.py", f"{i:016x}", "py", f"body {i}"] for i in range(60)]
    w = BinlogWriter(checksum=True)
    w.gtid("8a2f1e60-0000-11ee-be56-0242ac120001", 1, ts=1_704_067_200)
    w.table_map("test", "repo_files", types, meta, ts=1_704_067_200)
    w.rows("test", "repo_files", "insert", types, meta, rows, ts=1_704_067_200)
    start = len(w.buf)
    w.gtid("8a2f1e60-0000-11ee-be56-0242ac120001", 2, ts=1_704_067_201)
    w.table_map("test", "repo_files", types, meta, ts=1_704_067_201)
    w.rows("test", "repo_files", "update", types, meta,
           [(r, r[:4] + ["edited"]) for r in rows[::2]], ts=1_704_067_201)
    w.rows("test", "repo_files", "delete", types, meta, rows[1::2], ts=1_704_067_201)
    path = tmp_path / "mysql-bin.000001"
    path.write_bytes(w.bytes())
    return path, start


def _binlog_events(spark, path):
    from bingo2sql_spark.sources.binlog_binary import binlog_raw_events
    from bingo2sql_spark.sources.decode import decode_events

    cols = ["repo", "path", "commit", "lang", "content"]
    return decode_events(binlog_raw_events(spark, str(path), {"test.repo_files": cols}))


def _gateway_round_trips(monkeypatch, fn):
    """(fn(), the py4j round trips it made), counted by a patched
    GatewayClient.send_command. Proxy finalizations (the JVM-side
    release of a garbage-collected Java object proxy) are commands too;
    collecting garbage before and after the call counts those of the
    proxies fn dropped."""
    from py4j.java_gateway import GatewayClient

    calls = [0]
    send = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        calls[0] += 1
        return send(self, *args, **kwargs)

    gc.collect()
    with monkeypatch.context() as patched:
        patched.setattr(GatewayClient, "send_command", counting)
        out = fn()
        gc.collect()
    return out, calls[0]


def test_flashback_sql_plan_gateway_round_trips(spark, tmp_path, monkeypatch):
    """Building the flashback SQL artifact's plan must not pay per-column
    py4j traffic: the render templates, filters and inversion are handed
    to Spark as SQL expression text, so one generate_sql(flashback=True)
    call (plan building plus the write) stays at or under 1,200 gateway
    round trips. The Column-by-Column builders cost about 5,000."""
    from bingo2sql_spark.api import generate_sql

    path, start = _flashback_binlog(tmp_path)
    events = _binlog_events(spark, path)
    _, calls = _gateway_round_trips(monkeypatch, lambda: generate_sql(
        events, str(tmp_path / "sql"), flashback=True,
        start_file=path.name, start_position=start,
        stop_file=path.name, stop_position=path.stat().st_size,
    ))
    text = "".join(p.read_text() for p in sorted((tmp_path / "sql").glob("part-*")))
    assert text.count("UPDATE `test`.`repo_files`") == 30
    assert text.count("INSERT INTO `test`.`repo_files`") == 30
    assert calls <= 1200, calls


def _typed_mor_table(spark, tmp_path, max_delta_depth=None):
    """An 8-bucket MOR table fed typed events (decode_events_typed over
    a parquet landing): 1,000 events, compacted into bases. Returns
    (the table, the landed raw events: 4,000 more by seq)."""
    from bingo2sql_spark.operators.apply import IcebergLiteTable
    from bingo2sql_spark.pipeline import apply_batch
    from bingo2sql_spark.sources.decode import decode_events_typed
    from bingo2sql_spark.sources.synth import generate_events, to_raw_typed

    landing = str(tmp_path / "landing")
    to_raw_typed(generate_events(spark, n_keys=1000, versions_per_key=5, seed=7)).write.parquet(
        landing
    )
    raw = spark.read.parquet(landing)
    t = IcebergLiteTable(
        str(tmp_path / "t"), n_buckets=8, write_mode="mor", max_delta_depth=max_delta_depth
    )
    apply_batch(decode_events_typed(raw.filter("seq < 1000")), t, "base")
    t.compact(spark)
    return t, raw


def test_table_read_gateway_round_trips(spark, tmp_path, monkeypatch):
    """The table builds its read plans as SQL text, so planning read()
    plus a 4-key read_keys on an 8-bucket MOR table at delta depth 2
    (the read op of a streaming tail) stays at or under 200 gateway
    round trips; Column by Column it cost about 850."""
    from bingo2sql_spark.pipeline import apply_batch
    from bingo2sql_spark.sources.decode import decode_events_typed

    t, raw = _typed_mor_table(spark, tmp_path)
    for lo in (1000, 2000):
        apply_batch(decode_events_typed(raw.filter(f"seq >= {lo} AND seq < {lo + 1000}")),
                    t, f"d{lo}")
    assert t.latest_manifest()["metrics"]["delta_depth"] == 2
    keys = [(r["repo"], r["path"]) for r in t.read(spark).limit(4).collect()]

    def plan():
        return t.read(spark), t.read_keys(spark, keys)

    (full, lookup), calls = _gateway_round_trips(monkeypatch, plan)
    assert {(r["repo"], r["path"]) for r in lookup.collect()} == set(keys)
    assert full.count() == len({(r["repo"], r["path"]) for r in full.collect()})
    assert calls <= 200, calls


def test_mor_delta_commit_gateway_round_trips(spark, tmp_path, monkeypatch):
    """The batch projections that feed a commit (decode_events_typed,
    with_key, to_upsert_rows) and the commit's own plans are SQL text,
    so one MOR delta commit of 1,000 typed events through apply_batch
    (planning, the merge job and the manifest) stays at or under 500
    gateway round trips; Column by Column it cost about 1,300-1,450."""
    from bingo2sql_spark.pipeline import apply_batch
    from bingo2sql_spark.sources.decode import decode_events_typed

    t, raw = _typed_mor_table(spark, tmp_path, max_delta_depth=4)
    batch = raw.filter("seq >= 1000 AND seq < 2000")
    (m, _), calls = _gateway_round_trips(
        monkeypatch, lambda: apply_batch(decode_events_typed(batch), t, "delta")
    )
    assert m["rows_in_batch"] == 1000 and m["delta_depth"] == 1, m
    assert calls <= 500, calls


def _next_execution(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1) + 1


def _python_passes(spark, since: int) -> int:
    """Python-worker passes run by the SQL executions numbered `since` or
    later: the distinct non-zero "data sent to Python workers" metrics,
    read through the status store. A persisted plan shows under every
    scan of its cache with the same accumulator, so it counts once."""
    import json

    jvm = spark._jvm
    store = spark._jsparkSession.sharedState().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_mod, "MODULE$"))
    passes = 0
    execs = store.executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() < since:
            continue
        metrics = e.metrics()
        ids = {
            metrics.apply(k).accumulatorId()
            for k in range(metrics.size())
            if metrics.apply(k).name() == "data sent to Python workers"
        }
        values = json.loads(mapper.writeValueAsString(store.executionMetrics(e.executionId())))
        for a in ids:
            # "12.3 KiB", or a "total (min, med, max ...)" header line
            # followed by "12.3 KiB (...)" when several tasks ran
            v = values.get(str(a))
            passes += bool(v) and float(v.splitlines()[-1].split()[0].replace(",", "")) > 0
    return passes


def test_generate_sql_decodes_each_binlog_file_once(spark, tmp_path):
    """One generate_sql call decodes each binlog file ONCE — the
    flashback artifact, the forward default, the --minimal-insert stream
    and a multi-table schema file alike: the rendered rows (and the
    input of a render that reads it more than once) are persisted, so
    the decoration carry, its window, the insert-run carries and the
    per-table branches read one decoded copy. The caches are released
    after every call, also when the write raises."""
    from bingo2sql_spark.api import generate_sql

    sc = spark.sparkContext

    def persistent() -> set:
        return set(sc._jsc.getPersistentRDDs().keySet())

    # RDDs earlier tests left persisted (dedup's localCheckpoint blocks)
    # are unpersisted by Spark's ContextCleaner whenever the JVM collects
    # them, which can fall inside a call below. Collect that garbage
    # first, so `held` holds only RDDs that stay for the whole test.
    gc.collect()
    sc._jvm.System.gc()
    held = persistent()
    for _ in range(20):
        time.sleep(0.25)
        now = persistent()
        if now == held:
            break
        held = now
    path, start = _flashback_binlog(tmp_path)
    events = _binlog_events(spark, path)
    # a schema file of two tables renders one branch per table
    schema = tmp_path / "schema.sql"
    schema.write_text(
        "CREATE TABLE test.repo_files (repo varchar(64), path varchar(64), "
        "`commit` varchar(64), lang varchar(16), content text, PRIMARY KEY (repo, path));"
        "CREATE TABLE test.mirror (repo varchar(64), path varchar(64), PRIMARY KEY (path));"
    )
    calls = {
        "flashback": dict(
            flashback=True, start_file=path.name, start_position=start,
            stop_file=path.name, stop_position=path.stat().st_size,
        ),
        "forward": {},
        "minimal_insert": dict(minimal_insert=True),
        "two_table_schema": dict(table_schema=str(schema)),
    }
    for name, kwargs in calls.items():
        since = _next_execution(spark)
        generate_sql(events, str(tmp_path / name), **kwargs)
        assert _python_passes(spark, since) == 1, name
        assert persistent() == held, name
        assert list((tmp_path / name).glob("part-*")), name

    # a CRC mismatch in the last rows event fails the decode task after
    # the cache is registered; the write raises and the cache is released
    data = bytearray(path.read_bytes())
    data[data.rindex(b"body 59")] ^= 0x01
    bad = tmp_path / "bad" / path.name
    bad.parent.mkdir()
    bad.write_bytes(bytes(data))
    with pytest.raises(Exception, match="CRC32 mismatch"):
        generate_sql(_binlog_events(spark, bad), str(tmp_path / "raised"))
    assert persistent() == held


def test_table_paths_plan_no_python_rdd(spark, tmp_path, monkeypatch):
    """The table's driver-built relations — the empty state a fresh-table
    or MOR delta commit merges against, and read_keys' probe keys — enter
    plans as JVM LocalRelations or SQL literals, never as
    createDataFrame(list) Python RDDs: a merge against the empty state
    plans the batch alone (no Union, no ExistingRDD scan), a point
    lookup's bucket computation folds on the driver without a job, and
    the lookup itself runs at most two jobs (its exact-key filter joins
    nothing). A CoW commit over stored rows,
    a MOR commit that folds its deltas at max_delta_depth and compact()
    each plan exactly one bucket exchange under their max_by."""
    from bingo2sql_spark.operators.apply import IcebergLiteTable
    from bingo2sql_spark.pipeline import replay
    from bingo2sql_spark.sources.synth import generate_events

    written = _write_plans(monkeypatch)
    ev = generate_events(spark, n_keys=120, versions_per_key=3, seed=11)
    cow = IcebergLiteTable(str(tmp_path / "cow"), n_buckets=8)
    replay(ev, cow, batch_id="fresh")
    mor = IcebergLiteTable(
        str(tmp_path / "mor"), n_buckets=8, write_mode="mor", max_delta_depth=4
    )
    replay(ev.filter("seq < 200"), mor, batch_id="m1")
    m = replay(ev.filter("seq >= 200"), mor, batch_id="m2")
    replay(ev.filter("seq >= 300"), cow, batch_id="second")
    fold = IcebergLiteTable(
        str(tmp_path / "fold"), n_buckets=8, write_mode="mor", max_delta_depth=1
    )
    replay(ev.filter("seq < 200"), fold, batch_id="f1")
    mf = replay(ev.filter("seq >= 200"), fold, batch_id="f2")
    replay(ev.filter("seq >= 300"), fold, batch_id="f3")
    fold.compact(spark)
    monkeypatch.undo()
    # fresh CoW commit, two MOR delta commits (the second over a stored
    # delta), a CoW commit over stored rows, a MOR delta, its fold, a
    # delta on the folded base and compact(); no post-commit compaction
    assert m["mode"] == "mor" and m["delta_depth"] == 2, m
    assert mf["compacted_to"] == mf["snapshot"] and mf["delta_depth"] == 0, mf
    assert len(written) == 8, len(written)
    for plan in written:
        assert "ExistingRDD" not in plan, plan
    for plan in written[:3]:
        assert "Union" not in plan, plan
    # the CoW second commit is the real stored-vs-batch MERGE: stored
    # scan and batch union straight into the ONE bucket exchange, and
    # nothing but the max_by aggregate sits between it and the write
    # the fold is that same plan over every base and delta; compact()
    # is it without batch rows, so its one scan needs no Union
    for merge, union in ((written[3], True), (written[5], True), (written[7], False)):
        assert merge.count("Exchange ") == 1, merge
        above, below = merge.split("Exchange hashpartitioning(bucket", 1)
        assert "max_by" in above, merge
        assert ("+- Union" in below) == union and "FileScan parquet" in below, merge
        for node in ("LeftSemi", "Window", "BroadcastExchange"):
            assert node not in merge, merge
    for plan in (written[4], written[6]):
        assert "Union" not in plan and "FileScan parquet" not in plan, plan

    for t in (cow, mor):
        assert "ExistingRDD" not in _plan(t.read(spark))
    keys = [(r["repo"], r["path"]) for r in mor.read(spark).limit(4).collect()]
    lookup, n_build = _jobs(spark, "plan-read-keys-build", lambda: mor.read_keys(spark, keys))
    assert n_build == 0, n_build
    assert "ExistingRDD" not in _plan(lookup)
    rows, n_run = _jobs(spark, "plan-read-keys-run", lookup.collect)
    assert {(r["repo"], r["path"]) for r in rows} == set(keys)
    assert n_run <= 2, n_run

    empty = mor._empty_state(spark, ["repo", "path", "content"])
    assert _optimized(empty).startswith("LocalRelation <empty>"), _optimized(empty)
    got, n_empty = _jobs(spark, "plan-empty-state", empty.collect)
    assert got == [] and n_empty == 0, n_empty


def test_commit_jobs_per_path(spark, tmp_path):
    """Spark jobs per IcebergLiteTable.commit(), counted through a job
    group set here, on each commit path: a fresh CoW commit (the merge
    job, Observation counts), a CoW commit over stored rows (pruning
    pre-pass + merge), a MOR delta append, a MOR commit at
    max_delta_depth that folds the deltas in its own merge, a MOR commit
    whose parent manifest is above max_read_amplification (the same
    fold), compact(), a flashback rebase onto an empty table (its
    min-seq aggregate), a DROP + rename commit, and on MINIMAL row
    images a MOR delta, a fold at max_delta_depth and a CoW commit over
    stored rows (the per-column merge). The counts are pinned: a phase
    that starts a job of its own shows up here."""
    from bingo2sql_spark.operators import flashback as FB
    from bingo2sql_spark.operators import resolve as R
    from bingo2sql_spark.operators.apply import IcebergLiteTable
    from bingo2sql_spark.sources.synth import generate_events

    jobs: dict[str, int] = {}

    def commit(name, table, batch, batch_id, **kwargs):
        m, jobs[name] = _jobs(
            spark, f"commit-jobs-{name}", lambda: table.commit(batch, batch_id, **kwargs)
        )
        return m

    def up(df):
        return R.to_upsert_rows(R.with_key(df))

    ev = generate_events(spark, n_keys=120, versions_per_key=3, seed=11)
    cow = IcebergLiteTable(str(tmp_path / "cow"), n_buckets=8)
    commit("cow_fresh", cow, up(ev.filter("seq < 200")), "c1")
    commit("cow_stored", cow, up(ev.filter("seq >= 200")), "c2")
    ddl = up(ev.filter("seq >= 300")).drop("branch").withColumnRenamed("lang", "language")
    commit(
        "drop_rename", cow, ddl, "c3",
        drop_columns=["branch"], rename_columns={"lang": "language"},
    )
    mor = IcebergLiteTable(
        str(tmp_path / "mor"), n_buckets=8, write_mode="mor", max_delta_depth=1
    )
    commit("mor_delta", mor, up(ev.filter("seq < 200")), "m1")
    m = commit("mor_delta_compaction", mor, up(ev.filter("seq >= 200")), "m2")
    c, jobs["mor_compact"] = _jobs(spark, "commit-jobs-compact", lambda: mor.compact(spark))
    amp = IcebergLiteTable(
        str(tmp_path / "amp"), n_buckets=8, write_mode="mor", max_read_amplification=0.1
    )
    amp.commit(up(ev.filter("seq < 200")), "a1")
    over = amp.commit(up(ev.filter("seq >= 200")), "a2")
    a = commit("mor_read_amp_fold", amp, up(ev.filter("seq >= 300")), "a3")
    fb = IcebergLiteTable(str(tmp_path / "fb"), n_buckets=8)
    commit("flashback_empty", fb, up(FB.invert(ev)), "f1", rebase_past_head=True)
    mev = generate_events(spark, n_keys=120, versions_per_key=3, seed=11, minimal_image=True)

    def up_min(df):
        return R.to_upsert_rows(R.with_key(df), minimal=True)

    mm = IcebergLiteTable(
        str(tmp_path / "mm"), n_buckets=8, write_mode="mor", max_delta_depth=1
    )
    commit("mor_minimal_delta", mm, up_min(mev.filter("seq < 200")), "n1")
    mf = commit("mor_minimal_fold", mm, up_min(mev.filter("seq >= 200")), "n2")
    cm = IcebergLiteTable(str(tmp_path / "cm"), n_buckets=8)
    cm.commit(up_min(mev.filter("seq < 200")), "k1")
    commit("cow_minimal_stored", cm, up_min(mev.filter("seq >= 200")), "k2")

    assert m["compaction_trigger"] == "delta_depth", m
    assert mf["compaction_trigger"] == "delta_depth", mf
    assert m["compacted_to"] == m["snapshot"] and not c["skipped"], (m, c)
    assert over["read_amplification"] > 0.1 and "compacted_to" not in over, over
    assert a["compaction_trigger"] == "read_amplification", a
    assert a["compacted_to"] == a["snapshot"] and a["read_amplification"] == 0, a
    cols = cow.latest_manifest()["columns"]
    assert "language" in cols and "lang" not in cols and "branch" not in cols, cols
    assert jobs == {
        "cow_fresh": 2,
        "cow_stored": 4,
        "drop_rename": 4,
        "mor_delta": 2,
        "mor_delta_compaction": 2,
        "mor_compact": 2,
        "mor_read_amp_fold": 2,
        "flashback_empty": 4,
        "mor_minimal_delta": 2,
        "mor_minimal_fold": 2,
        "cow_minimal_stored": 4,
    }, jobs


def test_commit_writes_one_file_per_bucket(spark, tmp_path):
    """Each bucket of a commit's merge is written by exactly one task, so
    the commit metrics' `files_written` (counted from the footer-stats
    listing) equals `buckets_rewritten` on every commit path
    test_commit_jobs_per_path builds: a fresh CoW commit, a CoW commit
    over stored rows, a DROP + rename commit, a MOR delta, a MOR commit
    folding at max_delta_depth, compact(), a fold on read amplification
    and a flashback rebase."""
    from bingo2sql_spark.operators import flashback as FB
    from bingo2sql_spark.operators import resolve as R
    from bingo2sql_spark.operators.apply import IcebergLiteTable
    from bingo2sql_spark.sources.synth import generate_events

    def up(df):
        return R.to_upsert_rows(R.with_key(df))

    ev = generate_events(spark, n_keys=120, versions_per_key=3, seed=11)
    cow = IcebergLiteTable(str(tmp_path / "cow"), n_buckets=8)
    mor = IcebergLiteTable(
        str(tmp_path / "mor"), n_buckets=8, write_mode="mor", max_delta_depth=1
    )
    amp = IcebergLiteTable(
        str(tmp_path / "amp"), n_buckets=8, write_mode="mor", max_read_amplification=0.1
    )
    ddl = up(ev.filter("seq >= 300")).drop("branch").withColumnRenamed("lang", "language")
    metrics = {
        "cow_fresh": cow.commit(up(ev.filter("seq < 200")), "c1"),
        "cow_stored": cow.commit(up(ev.filter("seq >= 200")), "c2"),
        "drop_rename": cow.commit(
            ddl, "c3", drop_columns=["branch"], rename_columns={"lang": "language"}
        ),
        "mor_delta": mor.commit(up(ev.filter("seq < 200")), "m1"),
        "mor_delta_compaction": mor.commit(up(ev.filter("seq >= 200")), "m2"),
        "mor_compact": mor.compact(spark),
        "amp_delta": amp.commit(up(ev.filter("seq < 200")), "a1"),
        "amp_over": amp.commit(up(ev.filter("seq >= 200")), "a2"),
        "mor_read_amp_fold": amp.commit(up(ev.filter("seq >= 300")), "a3"),
        "flashback_empty": IcebergLiteTable(str(tmp_path / "fb"), n_buckets=8).commit(
            up(FB.invert(ev)), "f1", rebase_past_head=True
        ),
    }
    assert metrics["mor_delta_compaction"]["compaction_trigger"] == "delta_depth"
    assert metrics["mor_read_amp_fold"]["compaction_trigger"] == "read_amplification"
    got = {k: (m["files_written"], m["buckets_rewritten"]) for k, m in metrics.items()}
    assert all(f == b > 0 for f, b in got.values()), got


def _write_stage(spark, group: str):
    """The status tracker's record of the last stage that ran tasks in
    `group`'s last job: a commit's merge write stage (its map stage runs
    as an earlier job and shows as skipped in the write job)."""
    st = spark.sparkContext.statusTracker()
    job = st.getJobInfo(max(st.getJobIdsForGroup(group)))
    ran = [st.getStageInfo(s) for s in job.stageIds]
    return max((s for s in ran if s.numCompletedTasks), key=lambda s: s.stageId)


def _writing_tasks(table, metrics) -> collections.Counter:
    """The commit's file count per writing task partition id (the
    `<id>` of `part-<id>-...`)."""
    snap = os.path.join(
        table.path, "data", table.latest_manifest()["snap_dirs"][str(metrics["snapshot"])]
    )
    return collections.Counter(
        f.split("-")[1]
        for d in os.listdir(snap) if d.startswith("pbucket=")
        for f in os.listdir(os.path.join(snap, d)) if f.endswith(".parquet")
    )


def test_small_commit_merge_writes_from_one_task(spark, tmp_path):
    """The merge exchange names no partition count, so AQE coalesces a
    small commit's shuffle into one write task: a fresh MOR commit and a
    MOR delta over 16 buckets each write all their bucket files from a
    single task (a fixed count paid the per-task writer setup once per
    partition, empty ones included)."""
    from bingo2sql_spark.operators import resolve as R
    from bingo2sql_spark.operators.apply import IcebergLiteTable
    from bingo2sql_spark.sources.synth import generate_events

    ev = generate_events(spark, n_keys=200, versions_per_key=3)
    t = IcebergLiteTable(str(tmp_path / "t"), n_buckets=16, write_mode="mor")
    for i, cond in enumerate(["seq < 300", "seq >= 300"]):
        batch = R.to_upsert_rows(R.with_key(ev.filter(cond)))
        m, _ = _jobs(spark, f"small-merge-{i}", lambda: t.commit(batch, f"b{i}"))
        assert m["buckets_rewritten"] == m["files_written"] == 16, m
        assert _write_stage(spark, f"small-merge-{i}").numTasks == 1
        assert len(_writing_tasks(t, m)) == 1


def test_large_commit_merge_spreads_without_empty_tasks(spark, tmp_path):
    """A commit whose merge shuffles more than `defaultParallelism` MB
    is split by AQE into several write tasks (target size total/par),
    and every one of them writes files: coalescing leaves no empty
    partition, and each bucket stays whole in one task (one file per
    bucket)."""
    from bingo2sql_spark.operators import resolve as R
    from bingo2sql_spark.operators.apply import IcebergLiteTable
    from bingo2sql_spark.sources.synth import generate_events

    sc = spark.sparkContext
    ev = generate_events(spark, n_keys=2000, versions_per_key=2, seed=5, content_repeat=120)
    t = IcebergLiteTable(str(tmp_path / "t"), n_buckets=16)
    m, _ = _jobs(spark, "large-merge", lambda: t.commit(R.to_upsert_rows(R.with_key(ev)), "load"))
    stage = _write_stage(spark, "large-merge")
    store = sc._jsc.sc().statusStore()
    data = store.stageData(
        stage.stageId, False, getattr(store, "stageData$default$3")(),
        False, getattr(store, "stageData$default$5")(),
    )
    shuffled = data.apply(data.size() - 1).shuffleReadBytes()
    assert shuffled > sc.defaultParallelism * 2**20, shuffled
    assert stage.numTasks > 1, stage
    assert len(_writing_tasks(t, m)) == stage.numTasks, stage
    assert m["buckets_rewritten"] == m["files_written"] == 16, m


def test_large_commit_merge_places_buckets_evenly(spark, tmp_path):
    """The merge deals a commit's buckets round-robin over the bucket
    exchange's initial partitions: with AQE's coalescing off (one task
    per initial partition), 16 buckets over 8 partitions write 2 bucket
    files from each of the 8 tasks. Hashing the bucket ids themselves
    leaves some partitions empty and stacks buckets on others, and AQE
    cannot split a partition, so the fullest task sets the stage time."""
    from bingo2sql_spark.operators import resolve as R
    from bingo2sql_spark.operators.apply import IcebergLiteTable, _slot_keys
    from bingo2sql_spark.sources.synth import generate_events

    # each slot key lands in its partition under Spark's own hash
    for n in (4, 8, 200):
        (row,) = spark.range(1).select(
            *[F.pmod(F.hash(F.lit(k)), F.lit(n)) for k in _slot_keys(n)]
        ).collect()
        assert list(row) == list(range(n)), (n, row)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        ev = generate_events(spark, n_keys=400, versions_per_key=2, seed=9)
        t = IcebergLiteTable(str(tmp_path / "t"), n_buckets=2 * n)
        m = t.commit(R.to_upsert_rows(R.with_key(ev)), "load")
    finally:
        spark.conf.set(key, prev)
    per_task = _writing_tasks(t, m)
    assert m["files_written"] == m["buckets_rewritten"] == 2 * n, m
    assert sorted(per_task.values()) == [2] * n, per_task


def test_replay_jobs_per_path(spark, tmp_path):
    """Spark jobs per pipeline.replay() call, counted through a job group
    set here, on each entry path: a FULL load and a FULL batch over
    stored rows, a MINIMAL load, a table_meta load and a table_meta batch
    whose DDL timeline ADDs one column and CHANGEs (renames) another, and
    a flashback onto the stored table. The counts are pinned: a step
    between the events and the commit that starts a job of its own shows
    up here."""
    import datetime

    from pyspark.sql import types as T

    from bingo2sql_spark import ddl as DL
    from bingo2sql_spark import schema as S
    from bingo2sql_spark.operators.apply import IcebergLiteTable
    from bingo2sql_spark.pipeline import replay
    from bingo2sql_spark.sources.synth import generate_events

    jobs: dict[str, int] = {}

    def run(name, events, table, batch_id, **kwargs):
        m, jobs[name] = _jobs(
            spark, f"replay-jobs-{name}",
            lambda: replay(events, table, batch_id, tables=["repo_files"], **kwargs),
        )
        assert not m["skipped"], m
        return m

    ev = generate_events(spark, n_keys=120, versions_per_key=3, seed=11)
    full = IcebergLiteTable(str(tmp_path / "full"), n_buckets=8)
    run("full_fresh", ev.filter("seq < 200"), full, "f1")
    run("full_stored", ev.filter("seq >= 200"), full, "f2")
    run("flashback_stored", ev.filter("seq >= 300"), full, "fb", flashback=True)
    minimal = generate_events(spark, n_keys=120, versions_per_key=3, seed=11,
                              minimal_image=True)
    run("minimal_fresh", minimal, IcebergLiteTable(str(tmp_path / "min"), n_buckets=8),
        "m1", row_image="MINIMAL")

    # DML seqs doubled so the two ALTERs sit between DML events
    dml = ev.withColumn("seq", F.col("seq") * 2).withColumn(
        "statement", F.lit(None).cast("string")
    )
    schema = T.StructType(list(S.ENVELOPE.fields) + [T.StructField("statement", T.StringType())])
    alters = spark.createDataFrame([
        (seq, "bin.000001", seq, None, None, datetime.datetime(2024, 1, 1), 1, "test",
         "repo_files", S.OP_DDL,
         None, None, None, 2, stmt)
        for seq, stmt in [
            (501, "ALTER TABLE test.repo_files ADD COLUMN stars varchar(8)"),
            (601, "ALTER TABLE test.repo_files CHANGE lang language varchar(64)"),
        ]
    ], schema)
    meta = DL.parse_schema_text(
        "CREATE TABLE test.repo_files (repo varchar(64), path varchar(255), "
        "commit varchar(64), lang varchar(16), content text, branch varchar(64), "
        "PRIMARY KEY (repo, path))"
    )["test.repo_files"]
    evolved = IcebergLiteTable(str(tmp_path / "evolved"), n_buckets=8)
    run("table_meta_fresh", dml.filter("seq < 400"), evolved, "e1", table_meta=meta)
    run("table_meta_ddl", dml.filter("seq >= 400").unionByName(alters), evolved, "e2",
        table_meta=meta)

    cols = evolved.latest_manifest()["columns"]
    assert "stars" in cols and "language" in cols and "lang" not in cols, cols
    assert jobs == {
        "full_fresh": 2,
        "full_stored": 4,
        "flashback_stored": 4,
        "minimal_fresh": 2,
        "table_meta_fresh": 2,
        "table_meta_ddl": 5,
    }, jobs


def test_minimal_insert_runs_one_carry(spark, tmp_path):
    """--minimal-insert run ids come from ONE carry over the per-block
    rows (previous event and open run start together), broadcast once,
    and the non-insert statements render straight from the events:
    generate_sql(minimal_insert=True) on the test binlog runs at most 16
    Spark jobs (the per-row forward stream runs 8)."""
    from bingo2sql_spark.api import generate_sql

    path, _ = _flashback_binlog(tmp_path)
    events = _binlog_events(spark, path)
    _, n_jobs = _jobs(
        spark,
        "minimal-insert-jobs",
        lambda: generate_sql(events, str(tmp_path / "sql"), minimal_insert=True),
    )
    text = "".join(p.read_text() for p in sorted((tmp_path / "sql").glob("part-*")))
    # the 60 inserts form one run: one multi-row statement
    assert text.count("INSERT INTO `test`.`repo_files`") == 1
    assert text.count("),(") == 59
    assert text.count("UPDATE `test`.`repo_files`") == 30
    assert text.count("DELETE FROM `test`.`repo_files`") == 30
    assert n_jobs <= 16, n_jobs
