"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exercises the engine's operators (SURVEY.md §2) over the
driver's parquet testdata; `oracle_sql()` gives the DuckDB-equivalent
SQL for each. CDC queries derive a deterministic change-event stream
from the `documents` table with pure relational transforms (both
engines express the identical derivation), then run the real package
operators (filters / flashback / LWW / render / stats) on it.
"""

from __future__ import annotations

import hashlib
import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SERVER_UUIDS = [
    "8a2f1e60-0000-11ee-be56-0242ac120001",
    "8a2f1e60-0000-11ee-be56-0242ac120002",
    "8a2f1e60-0000-11ee-be56-0242ac120003",
]

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _scratch_dir(prefix: str) -> str:
    """Scratch space for queries that materialize a table: tmpfs when
    available — the sandbox's virtual disk stalls on dirty-page flushes
    (BENCH/run_scaling.py methodology), which would charge disk noise to
    these queries' timings. Each dir is removed at interpreter exit (the
    caller's DataFrame is consumed before then) — without the hook every
    gate/bench run would leak a table into tmpfs RAM."""
    import atexit
    import shutil
    import tempfile

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    d = tempfile.mkdtemp(prefix=prefix, dir=base)
    atexit.register(shutil.rmtree, d, True)
    return d


#: shared fixture tables for the double-replay gates (VERDICT r6 #5):
#: built once per (kind, sf_dir) per process in a keyed scratch dir and
#: memoized — bench.py's min-of-2 loop and a driver+pytest session that
#: touch several gates stop rebuilding the same table, so each gate's
#: wall measures its OPERATOR (changelog diff / per-column read-time
#: merge / incremental signing), not fixture construction. The gates
#: only READ the fixture (changes_between / read / signatures), so the
#: shared instance cannot leak state between queries.
_FIXTURES: dict = {}


def _replay_fixture(spark: SparkSession, sf_dir: str, kind: str):
    from bingo2sql_spark.operators.apply import IcebergLiteTable
    from bingo2sql_spark.pipeline import replay

    key = (kind, sf_dir)
    if key in _FIXTURES:
        return _FIXTURES[key]
    tmp = _scratch_dir(f"bingo2sql_fix_{kind}_")
    if kind == "changelog":
        env = _doc_events(spark, sf_dir)
        t = IcebergLiteTable(os.path.join(tmp, "t"), n_buckets=16)
        m1 = replay(env.filter(F.col("seq") < 1000000), t, batch_id="h1")
        m2 = replay(env.filter(F.col("seq") >= 1000000), t, batch_id="h2")
        val = (t, m1["snapshot"], m2["snapshot"])
    elif kind == "incremental":
        # shared by BOTH incremental signature gates (minhash + simhash)
        env = _doc_events(spark, sf_dir)
        t = IcebergLiteTable(os.path.join(tmp, "t"), n_buckets=16)
        m1 = replay(env.filter(F.col("seq") < 2000000), t, batch_id="h1")  # v0+v1
        # ad-hoc partial tail: only 1/3 of the docs see their v2 event
        m2 = replay(
            env.filter((F.col("seq") >= 2000000) & (F.col("seq") % 1000000 % 3 == 0)),
            t,
            batch_id="h2",
        )
        val = (t, m1["snapshot"], m2["snapshot"])
    elif kind in ("minimal_cow", "minimal_mor"):
        env = _doc_events_minimal(spark, sf_dir)
        t = IcebergLiteTable(
            os.path.join(tmp, "t"), n_buckets=16,
            write_mode="mor" if kind == "minimal_mor" else "cow",
        )
        replay(env.filter(F.col("seq") < 1000000), t, batch_id="m1", row_image="MINIMAL")
        replay(env.filter(F.col("seq") >= 1000000), t, batch_id="m2", row_image="MINIMAL")
        val = t
    else:
        raise ValueError(f"unknown fixture kind {kind!r}")
    _FIXTURES[key] = val
    return val


def _doc_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic CDC envelope derived from `documents`: 3 versions
    per doc; op schedule v=0 insert, (doc_id+v)%7==0 delete, else
    update. Mirrored 1:1 by the `_EV` CTE in the oracles."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    vers = spark.range(3).withColumnRenamed("id", "v")
    ev = docs.crossJoin(vers)
    doc_id, v = F.col("doc_id"), F.col("v")
    seq = (v * 1000000 + doc_id).alias("seq")
    op = (
        F.when(v == 0, F.lit("insert"))
        .when((doc_id + v) % 7 == 0, F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    repo = F.concat(F.lit("repo-"), F.lpad((doc_id % 37).cast("string"), 4, "0"))
    path = F.concat(F.lit("src/"), doc_id.cast("string"), F.lit(".txt"))

    def commit_of(vx):
        return F.lpad((vx * 1000000 + doc_id).cast("string"), 12, "0")

    def lang_of(vx):
        return F.when(vx == 2, F.lit("xx")).otherwise(F.col("lang"))

    def content_of(vx):
        return F.concat(F.col("text"), F.lit("#v"), vx.cast("string"))

    def img(vx):
        return F.struct(
            repo.alias("repo"),
            path.alias("path"),
            commit_of(vx).alias("commit"),
            lang_of(vx).alias("lang"),
            content_of(vx).alias("content"),
            F.lit(None).cast("string").alias("branch"),
        )

    null_img = F.lit(None).cast(
        "struct<repo:string,path:string,commit:string,lang:string,content:string,branch:string>"
    )
    opc = op.alias("op")
    return ev.select(
        seq,
        F.concat(
            F.lit("bin."), F.lpad(((F.col("v") * 1000000 + doc_id) / 2500 + 1).cast("long").cast("string"), 6, "0")
        ).alias("log_file"),
        (((v * 1000000 + doc_id) % 2500) * 200 + 4).alias("log_pos"),
        F.element_at(
            F.array(*[F.lit(u) for u in SERVER_UUIDS]), (doc_id % 3 + 1).cast("int")
        ).alias("gtid_uuid"),
        (v * 1000000 + doc_id).alias("gno"),
        F.timestamp_seconds(F.lit(1704067200) + F.floor((v * 1000000 + doc_id) / 10)).alias("ts"),
        (doc_id % 32).alias("thread_id"),
        F.lit("test").alias("db"),
        F.lit("repo_files").alias("table"),
        opc,
        F.when(opc == "insert", null_img).otherwise(img(v - 1)).alias("before"),
        F.when(opc == "delete", null_img).otherwise(img(v)).alias("after"),
        F.lit(None).cast("array<string>").alias("changed_cols"),
        F.lit(1).alias("schema_ver"),
    )


#: oracle-side mirror of _doc_events (header fields included as needed)
_EV = """
WITH _ev AS (
  SELECT d.doc_id, g.v,
         g.v*1000000 + d.doc_id AS seq,
         CASE WHEN g.v=0 THEN 'insert'
              WHEN (d.doc_id+g.v)%7=0 THEN 'delete'
              ELSE 'update' END AS op,
         'repo-' || lpad(cast(d.doc_id%37 AS varchar),4,'0') AS repo,
         'src/' || cast(d.doc_id AS varchar) || '.txt' AS path,
         lpad(cast(g.v*1000000+d.doc_id AS varchar),12,'0') AS commit,
         CASE WHEN g.v=2 THEN 'xx' ELSE d.lang END AS lang,
         d.text || '#v' || cast(g.v AS varchar) AS content,
         lpad(cast((g.v-1)*1000000+d.doc_id AS varchar),12,'0') AS prev_commit,
         CASE WHEN g.v-1=2 THEN 'xx' ELSE d.lang END AS prev_lang,
         d.text || '#v' || cast(g.v-1 AS varchar) AS prev_content,
         CASE d.doc_id%3 WHEN 0 THEN '{u0}' WHEN 1 THEN '{u1}' ELSE '{u2}' END AS gtid_uuid,
         g.v*1000000 + d.doc_id AS gno,
         TIMESTAMP '2024-01-01 00:00:00' + INTERVAL ((g.v*1000000+d.doc_id)//10) SECOND AS ts,
         d.doc_id%32 AS thread_id,
         'test' AS db, 'repo_files' AS "table"
  FROM documents d CROSS JOIN (SELECT range AS v FROM range(0,3)) g
)
""".format(u0=SERVER_UUIDS[0], u1=SERVER_UUIDS[1], u2=SERVER_UUIDS[2])


def _doc_events_minimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINIMAL row-image stream (binlog_row_image=MINIMAL, reference
    golden core/parser_test.go:727-755) derived from `documents`: same
    key/op/seq schedule as _doc_events, but lang changes at v=1 (to
    'xx') and UPDATE images carry ONLY the merge keys + changed columns
    (v1: commit/lang/content; v2: commit/content), with `changed_cols`
    listing them; DELETE before images carry keys only (the PK-only
    MINIMAL delete image). The final lang therefore comes from an OLDER
    writer than the final commit/content — full-image LWW would NULL
    it; the per-column last-present-writer merge is what the oracle
    checks."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    vers = spark.range(3).withColumnRenamed("id", "v")
    ev = docs.crossJoin(vers)
    doc_id, v = F.col("doc_id"), F.col("v")
    op = (
        F.when(v == 0, F.lit("insert"))
        .when((doc_id + v) % 7 == 0, F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    repo = F.concat(F.lit("repo-"), F.lpad((doc_id % 37).cast("string"), 4, "0"))
    path = F.concat(F.lit("src/"), doc_id.cast("string"), F.lit(".txt"))
    commit_v = F.lpad((v * 1000000 + doc_id).cast("string"), 12, "0")
    lang_v = F.when(v >= 1, F.lit("xx")).otherwise(F.col("lang"))
    content_v = F.concat(F.col("text"), F.lit("#v"), v.cast("string"))
    opc = op.alias("op")
    changed = F.when(
        op == "update",
        F.when(
            v == 1, F.array(F.lit("commit"), F.lit("lang"), F.lit("content"))
        ).otherwise(F.array(F.lit("commit"), F.lit("content"))),
    ).cast("array<string>")

    def keep(c, val):
        return F.when(F.array_contains(changed, c) | (op == "insert"), val).alias(c)

    null_s = F.lit(None).cast("string")
    full_or_masked = F.struct(
        repo.alias("repo"),
        path.alias("path"),
        keep("commit", commit_v),
        keep("lang", lang_v),
        keep("content", content_v),
        null_s.alias("branch"),
    )
    keys_only = F.struct(
        repo.alias("repo"), path.alias("path"),
        null_s.alias("commit"), null_s.alias("lang"),
        null_s.alias("content"), null_s.alias("branch"),
    )
    null_img = F.lit(None).cast(
        "struct<repo:string,path:string,commit:string,lang:string,content:string,branch:string>"
    )
    return ev.select(
        (v * 1000000 + doc_id).alias("seq"),
        F.concat(
            F.lit("bin."),
            F.lpad(((v * 1000000 + doc_id) / 2500 + 1).cast("long").cast("string"), 6, "0"),
        ).alias("log_file"),
        (((v * 1000000 + doc_id) % 2500) * 200 + 4).alias("log_pos"),
        F.element_at(
            F.array(*[F.lit(u) for u in SERVER_UUIDS]), (doc_id % 3 + 1).cast("int")
        ).alias("gtid_uuid"),
        (v * 1000000 + doc_id).alias("gno"),
        F.timestamp_seconds(F.lit(1704067200) + F.floor((v * 1000000 + doc_id) / 10)).alias("ts"),
        (doc_id % 32).alias("thread_id"),
        F.lit("test").alias("db"),
        F.lit("repo_files").alias("table"),
        opc,
        F.when(opc == "insert", null_img).otherwise(keys_only).alias("before"),
        F.when(opc == "delete", null_img).otherwise(full_or_masked).alias("after"),
        changed.alias("changed_cols"),
        F.lit(1).alias("schema_ver"),
    )


def _events_env(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-ish header derivation over the driver `events` table (for
    filter operators). Mirrored by _EEV."""
    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    return ev.select(
        eid,
        "ts",
        "user_id",
        "event_type",
        "value",
        F.concat(F.lit("bin."), F.lpad((eid / 2500 + 1).cast("long").cast("string"), 6, "0")).alias(
            "log_file"
        ),
        ((eid % 2500) * 200 + 4).alias("log_pos"),
        F.element_at(
            F.array(*[F.lit(u) for u in SERVER_UUIDS]), (F.col("user_id") % 3 + 1).cast("int")
        ).alias("gtid_uuid"),
        eid.alias("gno"),
        (F.col("user_id") % 32).alias("thread_id"),
        F.when(F.col("event_type") == "purchase", "insert")
        .when(F.col("event_type") == "click", "update")
        .when(F.col("event_type") == "error", "delete")
        .otherwise("ddl")
        .alias("op"),
        F.when(F.col("user_id") % 5 == 0, "meta").otherwise("test").alias("db"),
        F.concat(F.lit("t"), (F.col("user_id") % 3).cast("string")).alias("table"),
    )


_EEV = """
WITH _eev AS (
  SELECT event_id, ts, user_id, event_type, value,
         'bin.' || lpad(cast(event_id//2500 + 1 AS varchar),6,'0') AS log_file,
         (event_id%2500)*200 + 4 AS log_pos,
         CASE user_id%3 WHEN 0 THEN '{u0}' WHEN 1 THEN '{u1}' ELSE '{u2}' END AS gtid_uuid,
         event_id AS gno,
         user_id%32 AS thread_id,
         CASE event_type WHEN 'purchase' THEN 'insert' WHEN 'click' THEN 'update'
              WHEN 'error' THEN 'delete' ELSE 'ddl' END AS op,
         CASE WHEN user_id%5=0 THEN 'meta' ELSE 'test' END AS db,
         't' || cast(user_id%3 AS varchar) AS "table"
  FROM events
)
""".format(u0=SERVER_UUIDS[0], u1=SERVER_UUIDS[1], u2=SERVER_UUIDS[2])


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: CDC replay with LWW resolution -> final table state with
    per-row sha256(content) (the BASELINE invariant)."""
    return _q_lww_final_state(spark, "/root/testdata/sf0.001")


def _q_lww_final_state(spark, sf_dir):
    from bingo2sql_spark.operators import resolve as R

    env = _doc_events(spark, sf_dir)
    resolved = R.lww_resolve(env)
    return resolved.filter(F.col("op") != "delete").select(
        "repo",
        "path",
        F.col("after.commit").alias("commit"),
        F.col("after.lang").alias("lang"),
        F.sha2(F.col("after.content"), 256).alias("content_sha"),
    )


def _q_flashback_final_state(spark, sf_dir):
    from bingo2sql_spark.operators import flashback as FB
    from bingo2sql_spark.operators import resolve as R

    env = _doc_events(spark, sf_dir).filter(F.col("seq") >= 1000000)  # tail: v>=1
    resolved = R.lww_resolve(FB.invert(env))
    return resolved.filter(F.col("op") != "delete").select(
        "repo",
        "path",
        F.col("after.commit").alias("commit"),
        F.col("after.lang").alias("lang"),
        F.sha2(F.col("after.content"), 256).alias("content_sha"),
    )


def _q_checkpoint_split_replay(spark, sf_dir):
    """Replay(<=cut) ∪ replay(>cut) under LWW == full replay — the
    convergence identity, verified against the oracle's full replay."""
    from bingo2sql_spark.operators import resolve as R

    env = _doc_events(spark, sf_dir)
    cut = 1500000
    both = env.filter(F.col("seq") <= cut).unionByName(env.filter(F.col("seq") > cut))
    resolved = R.lww_resolve(both)
    return resolved.filter(F.col("op") != "delete").select(
        "repo", "path", F.sha2(F.col("after.content"), 256).alias("content_sha")
    )


def _q_changelog(spark, sf_dir):
    """Snapshot-diff changelog (Iceberg create_changelog_view analog),
    oracle-checked end to end: materialize the table with two commits
    (v0 inserts, then the v1/v2 tail), then changes_between(v1, v2).
    The scan is manifest-pruned to changed buckets and the diff is
    payload-only (no _ingest_seq; identical re-upserts excluded).
    Fixture table shared per process (_replay_fixture)."""
    t, v1, v2 = _replay_fixture(spark, sf_dir, "changelog")
    ch = t.changes_between(spark, v1, v2)
    return ch.select(
        "repo",
        "path",
        "op",
        F.col("before.content").alias("before_content"),
        F.col("after.content").alias("after_content"),
    )


def _q_minimal_final_state(spark, sf_dir, write_mode="cow"):
    """MINIMAL row-image replay end-to-end (T3/T10 semantics gap closed
    per VERDICT r3 #3): materialize the table with the real
    row_image="MINIMAL" path — to_upsert_rows_partial + the per-column
    last-present-writer merge (apply._per_key_winners partial=True) —
    in two commits so stored rows act as full-image pseudo-events under
    the columnar merge. Oracle: per-column last_value(... IGNORE NULLS)
    over the mirrored stream. The "mor" variant stores MINIMAL deltas
    (merged _changed_cols metadata) and resolves them with the
    per-column READ-time merge — same oracle by construction. Fixture
    table shared per process (_replay_fixture)."""
    t = _replay_fixture(
        spark, sf_dir, "minimal_mor" if write_mode == "mor" else "minimal_cow"
    )
    return t.read(spark).select(
        "repo", "path", "commit", "lang", F.sha2(F.col("content"), 256).alias("content_sha")
    )


def _q_minimal_final_state_mor(spark, sf_dir):
    return _q_minimal_final_state(spark, sf_dir, write_mode="mor")


def _q_time_range(spark, sf_dir):
    from bingo2sql_spark.operators import filters as FL

    ev = _t(spark, sf_dir, "events")
    return ev.filter(FL.time_range("2024-01-02 00:00:00", "2024-01-04 23:59:59")).select(
        "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"), "event_type", "value"
    )


def _q_pos_range(spark, sf_dir):
    from bingo2sql_spark.operators import filters as FL

    env = _events_env(spark, sf_dir)
    return env.filter(
        FL.pos_range(start_file="bin.000002", start_pos=100000, stop_file="bin.000004", stop_pos=300000)
    ).select("event_id", "log_file", "log_pos")


def _q_gtid_filter(spark, sf_dir):
    from bingo2sql_spark.operators import filters as FL

    spec = (
        f"{SERVER_UUIDS[0]}:0-3000,{SERVER_UUIDS[0]}:5000-6000,{SERVER_UUIDS[2]}:2000-4000"
    )
    env = _events_env(spark, sf_dir)
    return env.filter(FL.gtid_set(spec)).select("event_id", "gtid_uuid", "gno")


def _q_dml_type_filter(spark, sf_dir):
    from bingo2sql_spark.operators import filters as FL

    env = _events_env(spark, sf_dir)
    return env.filter(FL.dml_types(["insert", "delete"])).select("event_id", "op")


def _q_thread_filter(spark, sf_dir):
    from bingo2sql_spark.operators import filters as FL

    env = _events_env(spark, sf_dir)
    return env.filter(FL.thread_id(7)).select("event_id", "user_id")


def _q_schema_table_filter(spark, sf_dir):
    from bingo2sql_spark.operators import filters as FL

    env = _events_env(spark, sf_dir)
    return (
        env.filter(FL.schema_table(dbs=["test", "meta"], tables=["t0", "meta.t2"]))
        .groupBy("db", "table")
        .agg(F.count("*").alias("n"))
    )


def _q_max_rows(spark, sf_dir):
    from bingo2sql_spark.operators import filters as FL

    env = _events_env(spark, sf_dir)
    return FL.max_rows(env.select("event_id", "op"), 500, order=["event_id"])


def _q_stats_per_table(spark, sf_dir):
    from bingo2sql_spark.operators import stats as ST

    env = _events_env(spark, sf_dir).filter(F.col("op") != "ddl")
    s = ST.table_stats(env)
    return s.select(
        "db",
        "table",
        "inserts",
        "updates",
        "deletes",
        "total",
        F.unix_micros(F.col("first_ts").cast("timestamp")).alias("first_ts_us"),
        F.unix_micros(F.col("last_ts").cast("timestamp")).alias("last_ts_us"),
    )


def _q_render_insert(spark, sf_dir):
    from bingo2sql_spark.functions import render as RD

    env = _doc_events(spark, sf_dir).filter(F.col("op") == "insert")
    return RD.render_sql(env).select("seq", "sql")


def _q_render_update_minimal(spark, sf_dir):
    from bingo2sql_spark.functions import render as RD

    env = _doc_events(spark, sf_dir).filter(F.col("op") == "update")
    return RD.render_sql(env, minimal_update=True).select("seq", "sql")


def _q_render_delete(spark, sf_dir):
    from bingo2sql_spark.functions import render as RD

    env = _doc_events(spark, sf_dir).filter(F.col("op") == "delete")
    return RD.render_sql(env).select("seq", "sql")


def _q_decoration(spark, sf_dir):
    from bingo2sql_spark.functions import render as RD

    env = _doc_events(spark, sf_dir)
    rendered = RD.render_sql(env)
    return RD.decorate(rendered).select("seq", "gtid_comment", "time_comment")


def _q_binlog_binary_decode(spark, sf_dir):
    """S2 upgraded — REAL binlog v4 file bytes through the engine: the
    `events` rows are encoded into two rotated CRC32-checksummed binlog
    files (deterministic fixture synthesis — the sandbox has no mysqld,
    mirroring how the reference's CI produces binlogs by running DML,
    SURVEY.md §5), then decoded back by the distributed binaryFile →
    mapInArrow parser (sources/binlog_binary.py) and compared against
    the parquet the bytes came from. The driver-side collect is the
    fixture ENCODER only (bounded ≤20k rows); the decode under test is
    fully distributed."""
    import os
    import tempfile

    from bingo2sql_spark.sources.binlog_binary import (
        BinlogWriter, T_DOUBLE, T_LONGLONG, T_VARCHAR, binlog_raw_events,
    )

    rows = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 20000)
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
        .collect()
    )
    types = [T_LONGLONG, T_LONGLONG, T_VARCHAR, T_DOUBLE]
    meta = [0, 0, 200, 8]
    d = tempfile.mkdtemp(prefix="binlog_gate_")
    half = (len(rows) + 1) // 2
    for fi, chunk in enumerate((rows[:half], rows[half:]), start=1):
        w = BinlogWriter(checksum=True)
        w.gtid(SERVER_UUIDS[0], fi, ts=1704067200)
        w.query("BEGIN", db="test", thread_id=1, ts=1704067200)
        w.table_map("test", "events", types, meta, ts=1704067200)
        for i in range(0, len(chunk), 1000):
            w.rows(
                "test", "events", "insert", types, meta,
                [[r["event_id"], r["user_id"], r["event_type"],
                  float(r["value"])] for r in chunk[i : i + 1000]],
                ts=1704067200,
            )
        w.xid(fi, ts=1704067200)
        with open(os.path.join(d, f"mysql-bin.{fi:06d}"), "wb") as f:
            f.write(w.bytes())
    raw = binlog_raw_events(
        spark, d,
        table_schemas={"test.events": ["event_id", "user_id", "event_type", "value"]},
    )
    img = F.from_json(
        "after_json",
        "struct<event_id:long,user_id:long,event_type:string,value:double>",
    )
    return (
        raw.filter(F.col("op") == "insert")
        .select(img.alias("r"))
        .select("r.event_id", "r.user_id", "r.event_type", "r.value")
    )


def _q_dedup_exact(spark, sf_dir):
    from bingo2sql_spark.operators import dedup as DD

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return DD.exact_dedup_groups(doubled)


def _q_dedup_fingerprint(spark, sf_dir):
    from bingo2sql_spark.operators import dedup as DD

    docs = _t(spark, sf_dir, "documents")
    return DD.fingerprint_dedup_groups(docs)


def _q_minhash_signature(spark, sf_dir):
    from bingo2sql_spark.operators import dedup as DD

    docs = _t(spark, sf_dir, "documents")
    return DD.minhash_signature(docs, k=4)


def _q_span_dedup(spark, sf_dir):
    """Exact duplicate-SPAN detection (C4-style boilerplate signal):
    16-token hash windows at stride 8; a doc's dup_ratio = fraction of
    its distinct spans occurring in >= 2 docs. 1/3 of the docs get an
    exact twin, so their every span is duplicated (ratio 1.0) while the
    rest surface only organic span collisions — non-vacuous both ways."""
    from bingo2sql_spark.operators import dedup as DD

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    partial = docs.unionByName(
        docs.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    return DD.duplicate_span_stats(partial, window=16, stride=8)


def _q_corpus_stats(spark, sf_dir):
    """Per-source corpus health rollup: doc counts, corpus-wide
    exact-dup share attributed per source, mean quality, exact p50/p90
    token counts (percentile_cont semantics, mirrored bit-for-bit)."""
    from bingo2sql_spark.operators.stats import corpus_stats_by_source

    docs = _t(spark, sf_dir, "documents")
    # seed exact duplicates so dup_docs is non-vacuous: every 11th doc
    # reappears under a different id (same source via its twin's row)
    seeded = docs.unionByName(
        docs.filter(F.col("doc_id") % 11 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1000000
        )
    )
    return corpus_stats_by_source(seeded)


def _q_incremental_minhash(spark, sf_dir):
    """Incremental dedup over the changelog (VERDICT r4 #9, the 100 TB
    continuous-curation story): signatures computed at snapshot v1 are
    UPDATED from changes_between(v1, v2) — deleted keys leave, changed
    keys re-sign from their after image, untouched keys keep their
    stored rows (here doc_id%3!=0 keys, so the kept side is
    non-trivial). The oracle recomputes signatures from the final LWW
    state directly; equality proves incremental == full recompute.
    Fixture table shared per process — and with the simhash gate
    (_replay_fixture 'incremental')."""
    from bingo2sql_spark.operators import dedup as DD

    t, v1, v2 = _replay_fixture(spark, sf_dir, "incremental")
    state1 = t.read(spark, version=v1)
    sigs1 = DD.minhash_signature_keyed(state1, ["repo", "path"], text_col="content", k=4)
    ch = t.changes_between(spark, v1, v2)
    return DD.update_minhash_signatures(
        sigs1, ch, ["repo", "path"], text_col="content", k=4
    )


def _q_incremental_simhash(spark, sf_dir):
    """SimHash-family incremental signature maintenance (VERDICT r5
    #2): same two-commit replay as _q_incremental_minhash, but the
    signature table is the 16-bit SimHash the banded pair generator
    consumes — updated from changes_between, never recomputed over the
    corpus. The oracle recomputes the signatures from the final LWW
    state; equality proves incremental == full recompute for this
    family too (the 4 probe tables are substring projections of the
    signature column, so lockstep signatures imply lockstep probes).
    Subsumes the retired dedup_simhash signature gate: the oracle IS a
    from-scratch SQL simhash. Fixture table shared per process — and
    with the minhash gate (_replay_fixture 'incremental')."""
    from bingo2sql_spark.operators import dedup as DD

    t, v1, v2 = _replay_fixture(spark, sf_dir, "incremental")
    state1 = t.read(spark, version=v1)
    sigs1 = DD.simhash_signature_keyed(
        state1, ["repo", "path"], text_col="content", n_bits=16
    )
    ch = t.changes_between(spark, v1, v2)
    return DD.update_simhash_signatures(
        sigs1, ch, ["repo", "path"], text_col="content", n_bits=16
    )


def _q_minhash_pairs(spark, sf_dir):
    from bingo2sql_spark.operators import dedup as DD

    # duplicate the corpus so real candidate pairs exist
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    # cap guards the degenerate-band blow-up at web scale; test-scale
    # band buckets are ~100x below it, so the oracle (which doesn't
    # model the cap) is unaffected
    return DD.minhash_candidate_pairs(doubled, k=4, bands=2, max_bucket_size=10_000)


def _q_connected_keepers(spark, sf_dir):
    """Near-dup pairs -> connected components -> canonical keeper per
    doc (the actionable dedup assignment; min-label propagation)."""
    from bingo2sql_spark.operators import dedup as DD

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    # same degenerate-band guard as _q_minhash_pairs / the curation twin
    # (VERDICT r3): ~100x above test-scale bucket sizes, oracle unaffected
    pairs = DD.minhash_candidate_pairs(doubled, k=4, bands=2, max_bucket_size=10_000)
    return DD.keeper_assignment(doubled, pairs)


def _q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs at the PRODUCTION width: 64-bit
    signatures in 4x16-bit bands (Manku et al. banded probe tables),
    exact-Hamming-verified at radius <= 3 — never all-pairs; each doc
    emits exactly 4 band probes regardless of width (VERDICT r4 #2).
    Corpus is doubled (exact twins -> guaranteed Hamming-0 pairs) PLUS
    one-token-appended near-twins (small nonzero Hamming pairs when the
    append flips <= 3 bits), then 1/5-sampled so the pair set stays
    oracle-sized; twins survive the sample together (10^6 % 5 == 0)."""
    from bingo2sql_spark.operators import dedup as DD

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tripled = docs.unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    ).unionByName(
        docs.select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zqxv")).alias("text"),
        )
    )
    sampled = tripled.filter(F.col("doc_id") % 5 == 0)
    return DD.simhash_pairs_banded(
        sampled, n_bits=64, bands=4, max_hamming=3, max_bucket_size=10_000
    )


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: eval set = doc_id%97==0; the training
    side is the remaining docs PLUS exact twins of the eval docs
    (shifted ids) so contamination provably exists — every twin must be
    flagged with full shingle overlap, and organic 3-gram collisions
    surface on top. Broadcast semi-join shape (see dedup.decontaminate)."""
    from bingo2sql_spark.operators import dedup as DD

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    evals = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0).unionByName(
        evals.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return DD.decontaminate(train, evals, shingle_n=3)


def _q_simhash(spark, sf_dir):
    from bingo2sql_spark.operators import dedup as DD

    docs = _t(spark, sf_dir, "documents")
    return DD.simhash_signatures(docs, n_bits=8)


def _q_ngram_jaccard(spark, sf_dir):
    from bingo2sql_spark.operators import dedup as DD

    # exact Jaccard is quadratic within blocks — bench on a 1/5 sample
    # (lang-blocked); the scale path is minhash_candidate_pairs.
    # Doubled corpus (same trick as _q_minhash_pairs): exact twins
    # guarantee jaccard=1.0 pairs, so the oracle parity is non-vacuous
    # (VERDICT r2 #2). 1000000 % 5 == 0, so twins survive the sample
    # together.
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang")
    )
    sampled = doubled.filter(F.col("doc_id") % 5 == 0)
    # max_doc_freq guards the boilerplate-shingle posting-list blow-up at
    # web scale (VERDICT r3); ~100x above test-scale posting sizes, so
    # the oracle (which doesn't model the cap) is unaffected
    return DD.ngram_jaccard_pairs(
        sampled, threshold=0.05, block_col="lang", max_doc_freq=10_000
    )


def _q_text_tokens(spark, sf_dir):
    from bingo2sql_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count("text").alias("n_tokens"),
        TX.token_count_bpe("text").alias("n_bpe"),
    )


def _q_text_quality(spark, sf_dir):
    from bingo2sql_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.stopword_ratio("text").alias("stopword_ratio"),
        TX.avg_token_len("text").alias("avg_token_len"),
        TX.quality_score("text").alias("quality"),
    )


def _q_pii_scrub(spark, sf_dir):
    """PII redaction (training-data hygiene). The synthetic documents
    carry no organic PII, so BOTH sides append a deterministic
    doc_id-derived email + IPv4 before scrubbing — the redaction is
    exercised on every row and a wrong pattern/order changes the
    hash."""
    from bingo2sql_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    seeded = F.concat(
        F.col("text"),
        F.lit(" contact u"),
        doc_id.cast("string"),
        F.lit("@ex-mail.org from 10.0."),
        (doc_id % 200).cast("string"),
        F.lit(".7 now"),
    )
    scrubbed = TX.scrub_pii(seeded)
    return docs.select(
        "doc_id",
        F.sha2(scrubbed, 256).alias("scrubbed_sha"),
        (F.size(F.split(scrubbed, "<EMAIL>")) - 1).alias("n_emails"),
        (F.size(F.split(scrubbed, "<IP>")) - 1).alias("n_ips"),
    )


def _q_repetition(spark, sf_dir):
    from bingo2sql_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.repetition_ratio("text").alias("rep_ratio"),
    )


def _q_lang_id(spark, sf_dir):
    from bingo2sql_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.lang_id("text").alias("lang_pred"))


def _q_ann_brute(spark, sf_dir):
    from bingo2sql_spark.operators import similarity as SIM

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.brute_force_topk(emb, queries, k=5)


def _q_ann_lsh(spark, sf_dir):
    from bingo2sql_spark.operators import similarity as SIM

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.lsh_topk(emb, queries, k=5, n_planes=4, dim=64, probe_bits=1)


def _q_ann_ivf(spark, sf_dir):
    """IVF-flat ANN: deterministic sampled centroids (vec_id%37==0),
    corpus assigned to argmax-dot cells (one Arrow matmul per batch),
    queries probe their 2 nearest cells, exact dot + top-k within. The
    oracle mirrors the cell map exactly (integer dots, smallest-cid
    tie-break)."""
    from bingo2sql_spark.operators import similarity as SIM

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.ivf_topk(emb, queries, k=5, n_probe=2, centroid_mod=37)


def _q_agg_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape over lineitem (general relational parity; decimal
    casts keep the sums bit-exact across engines)."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.count("*").alias("count_order"),
            F.round(F.avg(dec("l_discount")), 6).cast("double").alias("avg_disc"),
        )
    )


def _q_sessionize(spark, sf_dir):
    """Sessionization: gap > 30 min starts a new session (lag + cumsum
    windows); sessions per user."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp(F.col("ts").cast("timestamp")) - F.unix_timestamp(
        F.lag(F.col("ts").cast("timestamp")).over(w)
    )
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.withColumn("new_sess", new_sess).withColumn(
        "session_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"), F.count("*").alias("n_events")
    )


def _q_windowed_counts(spark, sf_dir):
    """Tumbling 6h windows per event type (streaming-agg shape in batch)."""
    ev = _t(spark, sf_dir, "events")
    bucket = (F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 21600) * 21600).alias(
        "window_start"
    )
    return ev.groupBy(bucket, "event_type").agg(
        F.count("*").alias("n"), F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2).cast("double").alias("total_value")
    )


def _q_topk_per_user(spark, sf_dir):
    """Top-3 events by value per user (window top-k; ties by event_id)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("user_id", "event_id", "value", "rank")
    )


def _q_join_revenue_by_nation(spark, sf_dir):
    """Fact-fact join (customer⋈orders) + broadcast dim chain
    (nation⋈region): revenue per nation/region. Broadcast hints on the
    small dims keep the big join the only shuffle."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
    )


def _q_join_relational(spark, sf_dir):
    """ONE combined relational-join demo (VERDICT r5 #1: the driver
    records at most 50 CORRECTNESS rows, so the two standalone join
    demos fold into a single gate that still exercises every join
    shape): fact-fact shuffle join (customer⋈orders), broadcast dim
    chain (nation⋈region), and a LEFT-ANTI branch (customers without
    orders per nation) full-outer-merged onto the revenue rollup. The
    standalone forms remain pytest-gated via pytest_only_queries()."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    dims = F.broadcast(
        n.join(r, n["n_regionkey"] == r["r_regionkey"]).select(
            "n_nationkey", F.col("n_name").alias("nation"), F.col("r_name").alias("region")
        )
    )
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(dims, c["c_nationkey"] == F.col("n_nationkey"))
        .groupBy("nation", "region")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
    )
    noo = (
        c.join(o.select("o_custkey"), c["c_custkey"] == F.col("o_custkey"), "left_anti")
        .join(dims, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("nation", "region")
        .agg(F.count("*").alias("n_custs_no_orders"))
    )
    return rev.join(noo, ["nation", "region"], "full_outer").select(
        "nation",
        "region",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        F.coalesce("n_custs_no_orders", F.lit(0)).alias("n_custs_no_orders"),
    )


def _q_semi_anti_join(spark, sf_dir):
    """left-semi (EXISTS) + left-anti (NOT EXISTS): customers with vs
    without orders, per market segment."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    with_o = c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi")
    without_o = c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
    return (
        with_o.groupBy("c_mktsegment").agg(F.count("*").alias("n_with_orders"))
        .join(
            without_o.groupBy("c_mktsegment").agg(F.count("*").alias("n_without_orders")),
            "c_mktsegment",
            "full_outer",
        )
        .select(
            "c_mktsegment",
            F.coalesce("n_with_orders", F.lit(0)).alias("n_with_orders"),
            F.coalesce("n_without_orders", F.lit(0)).alias("n_without_orders"),
        )
    )


def _q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (doubled corpus guarantees exact
    twins): SRP-bucket candidates + exact int-scaled dot >= 0.9e6
    (embeddings are unit-normalized)."""
    from bingo2sql_spark.operators import similarity as SIM

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    doubled = emb.unionByName(
        emb.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    )
    return SIM.cosine_near_dup_pairs(
        doubled,
        threshold_scaled=900000,
        n_planes=8,
        dim=64,
        probe_bits=1,
        # production guard against a degenerate (e.g. all-zero) bucket
        # going quadratic; ~100x above test-scale bucket sizes, so the
        # oracle is unaffected
        max_bucket_size=10_000,
    )


def _q_render_ddl(spark, sf_dir):
    r"""DDL passthrough text (core/parser.go:2314-2339): op='ddl' events
    with a statement column render as `USE \`db\`;\n<ddl>;`."""
    from bingo2sql_spark.functions.render import render_sql

    env = _events_env(spark, sf_dir).filter(F.col("op") == "ddl")
    null_img = F.lit(None).cast(
        "struct<repo:string,path:string,commit:string,lang:string,content:string,branch:string>"
    )
    stmt = F.concat(
        F.lit("ALTER TABLE `"), F.col("db"), F.lit("`.`"), F.col("table"),
        F.lit("` COMMENT 'e"), F.col("event_id").cast("string"), F.lit("'"),
    )
    env = env.select(
        F.col("event_id").alias("seq"),
        "gtid_uuid",
        F.col("gno"),
        "ts",
        "thread_id",
        "db",
        "table",
        "op",
        null_img.alias("before"),
        null_img.alias("after"),
        stmt.alias("statement"),
    )
    return render_sql(env).select("seq", "sql")


def _q_render_multi_insert(spark, sf_dir):
    """--minimal-insert: consecutive same-table INSERTs collapse into
    multi-row VALUES statements anchored at the first row's seq."""
    from bingo2sql_spark.functions.render import render_multi_row_inserts

    return render_multi_row_inserts(_doc_events(spark, sf_dir), batch_rows=100)


def _q_stratified_sample(spark, sf_dir):
    """Deterministic training-mix sampling: per-lang keep fractions via
    a stable md5 draw — reproducible across engines and partitionings."""
    from bingo2sql_spark.functions.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(
        docs, {"en": 1.0, "es": 0.5, "de": 0.25}, strata_col="lang", salt="mix"
    )


def _q_curate_corpus(spark, sf_dir):
    """The composed curation pipeline a training-data run actually
    executes: quality gate AND language allow-list AND exact-dedup
    keeper-only AND deterministic mix sampling — one declarative plan
    (gates push into the scan; the dedup groupBy is the only shuffle)."""
    from bingo2sql_spark.functions import text as TX
    from bingo2sql_spark.functions.sampling import deterministic_sample
    from bingo2sql_spark.operators import dedup as DD

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    keepers = DD.exact_dedup_groups(docs).select(
        F.col("keeper_id").alias("doc_id")
    )
    kept = (
        docs.join(keepers, "doc_id", "left_semi")
        .filter(TX.quality_score("text") >= 0.5)
        .filter(F.col("lang").isin("en", "es", "de"))
    )
    return deterministic_sample(kept, 0.8, salt="curate").select(
        "doc_id", "lang", TX.quality_score("text").alias("quality")
    )


def _q_curate_corpus_neardup(spark, sf_dir):
    """Curation with NEAR-DUP keepers (VERDICT r2 #9): minhash-LSH pairs
    -> connected components -> keeper semi-join, composed with the same
    quality / language / deterministic-sample gates as curate_corpus.
    Doubled corpus so the keeper structure is guaranteed non-trivial;
    the oracle mirrors it with a DuckDB recursive CTE."""
    from bingo2sql_spark.functions import text as TX
    from bingo2sql_spark.functions.sampling import deterministic_sample
    from bingo2sql_spark.operators import dedup as DD

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang")
    )
    pairs = DD.minhash_candidate_pairs(
        doubled.select("doc_id", "text"), k=4, bands=2, max_bucket_size=10_000
    )
    keepers = (
        DD.keeper_assignment(doubled.select("doc_id", "text"), pairs)
        .filter(F.col("doc_id") == F.col("keeper_id"))
        .select("doc_id")
    )
    kept = (
        doubled.join(keepers, "doc_id", "left_semi")
        .filter(TX.quality_score("text") >= 0.5)
        .filter(F.col("lang").isin("en", "es", "de"))
    )
    return deterministic_sample(kept, 0.8, salt="curate").select(
        "doc_id", "lang", TX.quality_score("text").alias("quality")
    )


def _q_pack_sequences(spark, sf_dir):
    """Token-budget sequence packing (greedy FFD within bounded groups),
    ORACLE-CHECKED via its invariants (VERDICT r3 #4): the bin
    assignment itself is not SQL-expressible, but everything that makes
    it correct is. Per packing group the query emits, computed FROM the
    real packing output: doc/token conservation (n_docs, total_tokens),
    zero budget violations (a bin over budget must be carrying an
    oversized doc), zero multi-assigned docs, and the oversized-doc
    count. The oracle recomputes n_docs/total_tokens/oversized from
    plain SQL over the same token counts and pins the violation
    counters at 0 — a wrong packing changes the hashed result."""
    from bingo2sql_spark.functions.packing import pack_sequences
    from bingo2sql_spark.functions.text import token_count

    BUDGET = 512
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        (F.col("doc_id") % 64).alias("grp"),  # SQL-mirrorable group key
    )
    packed = pack_sequences(docs, budget=BUDGET, group_col="grp")
    per_bin = packed.groupBy("group", "bin_id").agg(
        F.sum("n_tokens").alias("bt"),
        F.count("*").alias("bd"),
        F.max("n_tokens").alias("bmax"),
    )
    g1 = per_bin.groupBy("group").agg(
        F.sum("bd").alias("n_docs"),
        F.sum("bt").alias("total_tokens"),
        F.sum(
            F.when((F.col("bt") > BUDGET) & (F.col("bmax") <= BUDGET), 1).otherwise(0)
        ).alias("violating_bins"),
    )
    g2 = packed.groupBy("group").agg(
        (F.count("*") - F.countDistinct("doc_id")).alias("multi_assigned"),
        F.sum(F.when(F.col("n_tokens") > BUDGET, 1).otherwise(0)).alias("oversized_docs"),
    )
    return g1.join(g2, "group").select(
        F.col("group").alias("grp"),
        "n_docs",
        "total_tokens",
        "violating_bins",
        "multi_assigned",
        "oversized_docs",
    )


def _q_multimodal_meta(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.length(blob).alias("n_bytes"),
        F.ascii(F.substring("text", 1, 1)).alias("first_byte"),
        (F.length(blob) % 256).alias("feat0"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """EXACTLY 50 entries (the driver records at most 50 CORRECTNESS
    rows — VERDICT r5 #1), operator-gating queries first and the
    generic relational/streaming demos last so a tighter cap would
    truncate demos, never an operator gate. Retired-from-the-gate-set
    queries (subsumed or folded) stay pytest-gated via
    pytest_only_queries()."""
    return {
        # --- CDC operator gates (SURVEY §2 S/F/T/A) ---
        "cdc_lww_final_state": _q_lww_final_state,
        "cdc_flashback_final_state": _q_flashback_final_state,
        "cdc_checkpoint_split_replay": _q_checkpoint_split_replay,
        "cdc_changelog_net_changes": _q_changelog,
        "cdc_minimal_image_final_state": _q_minimal_final_state,
        "cdc_minimal_image_mor_final_state": _q_minimal_final_state_mor,
        "cdc_time_range_filter": _q_time_range,
        "cdc_pos_range_filter": _q_pos_range,
        "cdc_gtid_filter": _q_gtid_filter,
        "cdc_dml_type_filter": _q_dml_type_filter,
        "cdc_thread_filter": _q_thread_filter,
        "cdc_schema_table_filter": _q_schema_table_filter,
        "cdc_max_rows_limit": _q_max_rows,
        "cdc_stats_per_table": _q_stats_per_table,
        "cdc_render_insert_sql": _q_render_insert,
        "cdc_render_update_minimal": _q_render_update_minimal,
        "cdc_render_delete_sql": _q_render_delete,
        "cdc_render_ddl": _q_render_ddl,
        "cdc_render_multi_insert": _q_render_multi_insert,
        "cdc_output_decoration": _q_decoration,
        "cdc_binlog_binary_decode": _q_binlog_binary_decode,
        # --- LLM-pipeline operator gates ---
        "dedup_exact": _q_dedup_exact,
        "dedup_fingerprint": _q_dedup_fingerprint,
        "dedup_minhash_lsh_pairs": _q_minhash_pairs,
        "dedup_incremental_minhash": _q_incremental_minhash,
        "dedup_incremental_simhash": _q_incremental_simhash,
        "dedup_span_ratio": _q_span_dedup,
        "corpus_stats_by_source": _q_corpus_stats,
        "dedup_connected_keepers": _q_connected_keepers,
        "dedup_simhash_pairs": _q_simhash_pairs,
        "curate_decontaminate": _q_decontaminate,
        "dedup_ngram_jaccard": _q_ngram_jaccard,
        "text_token_count": _q_text_tokens,
        "text_quality_score": _q_text_quality,
        "text_lang_id": _q_lang_id,
        "text_pii_scrub": _q_pii_scrub,
        "text_repetition_ratio": _q_repetition,
        "ann_cosine_topk": _q_ann_brute,
        "ann_lsh_topk": _q_ann_lsh,
        "ann_ivf_topk": _q_ann_ivf,
        "dedup_embedding_cosine": _q_embedding_near_dup,
        "sample_stratified": _q_stratified_sample,
        "curate_corpus": _q_curate_corpus,
        "curate_corpus_neardup": _q_curate_corpus_neardup,
        "pack_sequences": _q_pack_sequences,
        "multimodal_binary_meta": _q_multimodal_meta,
        # --- generic relational / streaming demos (truncation-safe tail) ---
        "agg_pricing_summary": _q_agg_pricing_summary,
        "events_sessionize": _q_sessionize,
        "events_topk_per_user": _q_topk_per_user,
        "join_revenue_by_nation": _q_join_relational,
    }


def pytest_only_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Queries retired from the driver gate set to fit its 50-row cap
    (VERDICT r5 #1) but still oracle-checked by tests/test_oracle_parity:
    - dedup_minhash_signature / dedup_simhash: subsumed — the
      incremental gates' oracles recompute the SAME signatures from
      scratch in SQL, so the signature operators stay SQL-gated.
    - the two standalone join demos: folded into the combined
      join_revenue_by_nation gate.
    - events_windowed_counts: generic demo ceded its gate slot to the
      cdc_binlog_binary_decode operator gate (round 8)."""
    return {
        "dedup_minhash_signature": _q_minhash_signature,
        "dedup_simhash": _q_simhash,
        "join_revenue_by_nation_solo": _q_join_revenue_by_nation,
        "join_semi_anti_segments": _q_semi_anti_join,
        "events_windowed_counts": _q_windowed_counts,
    }


# ---------------------------------------------------------------------------
# oracles (DuckDB SQL over the pre-registered views)
# ---------------------------------------------------------------------------


def _srp_weights_sql(j: int) -> str:
    return ",".join(
        str(1 if int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[0], 16) % 2 else -1)
        for i in range(64)
    )


def _bucket_expr_sql(col: str, n_planes: int = 4) -> str:
    bits = [
        f"(CASE WHEN list_dot_product(list_transform({col}, x->round(cast(x AS double)*1000)), [{_srp_weights_sql(j)}]) > 0 THEN '1' ELSE '0' END)"
        for j in range(n_planes)
    ]
    return " || ".join(bits)


def _lsh_oracle(n_planes: int = 4) -> str:
    """Mirror of similarity.lsh_topk (same md5-derived ±1 weights,
    generated here so both sides share one definition), including
    one-bit multi-probe: each query probes its own bucket plus the
    n_planes buckets at Hamming distance 1."""
    probes = ["SELECT query_id, qv, bkt AS pbkt FROM q"]
    for j in range(n_planes):
        flip = (
            f"substr(bkt,1,{j}) || "
            f"(CASE WHEN substr(bkt,{j + 1},1)='1' THEN '0' ELSE '1' END) || "
            f"substr(bkt,{j + 2})"
        )
        probes.append(f"SELECT query_id, qv, {flip} AS pbkt FROM q")
    probe_union = "\n  UNION ALL ".join(probes)

    return f"""
WITH v AS (SELECT vec_id, embedding, {_bucket_expr_sql('embedding', n_planes)} AS bkt FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qv, bkt FROM v WHERE vec_id%100=0),
p AS ({probe_union}),
s AS (
  SELECT p.query_id, v.vec_id AS neighbor_id,
         CAST(list_dot_product(list_transform(v.embedding, x->round(cast(x AS double)*1000)),
                               list_transform(p.qv,        x->round(cast(x AS double)*1000))) AS BIGINT) AS dot_scaled
  FROM v JOIN p ON v.bkt = p.pbkt
)
SELECT query_id, neighbor_id, dot_scaled, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dot_scaled DESC, neighbor_id) AS rank FROM s
) WHERE rank <= 5
"""


_FINAL_STATE = (
    _EV
    + """
SELECT repo, path, commit, lang, sha256(content) AS content_sha
FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) rn FROM _ev)
WHERE rn=1 AND op<>'delete'
"""
)

_SHINGLES = (
    "list_transform(generate_series(1, greatest(len(_w)-2, 1)), "
    "i -> md5(concat_ws(' ', _w[i], _w[i+1], _w[i+2])))"
)
_WORDS = "string_split_regex(trim(text), '\\s+')"


def _simhash_bit(j: int) -> str:
    # bit j: hex char j%32 of md5(token) for j<32, of md5('<j//32>:'||token)
    # beyond (md5 has 32 hex chars) — mirrors dedup.simhash_signatures
    src = "t" if j < 32 else f"'{j // 32}:' || t"
    return (
        f"(CASE WHEN list_sum(list_transform(_w, t -> (ascii(substr(md5({src}), {j % 32 + 1}, 1))%2)*2-1)) > 0 "
        f"THEN '1' ELSE '0' END)"
    )


_LANG_CASE = """
CASE
  WHEN s_zh = m THEN 'zh'
  WHEN s_fr = m THEN 'fr'
  WHEN s_es = m THEN 'es'
  WHEN s_en = m THEN 'en'
  ELSE 'de'
END
"""


def oracle_sql() -> dict[str, str]:
    esc = (
        "replace(replace(replace(replace(replace({x}, '\\', '\\\\'), "
        "chr(39), '\\' || chr(39)), chr(10), '\\n'), chr(13), '\\r'), "
        "'\"', '\\\"')"
    )
    lit = "(CASE WHEN {x} IS NULL THEN 'NULL' ELSE chr(39) || " + esc + " || chr(39) END)"

    def L(x):
        return lit.format(x=x)

    q = {}
    q["cdc_lww_final_state"] = _FINAL_STATE
    q["cdc_checkpoint_split_replay"] = (
        _EV
        + """
SELECT repo, path, sha256(content) AS content_sha
FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) rn FROM _ev)
WHERE rn=1 AND op<>'delete'
"""
    )
    # changelog between the v0 snapshot and the full-replay snapshot:
    # every key exists at v1 (all v0 inserts) and its LWW winner in the
    # second commit is the v=2 event — so the net change per key is
    # 'delete' when v2 deleted it, else 'update' to the v2 image (the
    # payload always differs: commit changes every version).
    q["cdc_changelog_net_changes"] = (
        _EV
        + """
SELECT e0.repo, e0.path,
       CASE WHEN e2.op = 'delete' THEN 'delete' ELSE 'update' END AS op,
       e0.content AS before_content,
       CASE WHEN e2.op = 'delete' THEN NULL ELSE e2.content END AS after_content
FROM _ev e0 JOIN _ev e2 ON e0.doc_id = e2.doc_id AND e2.v = 2
WHERE e0.v = 0
"""
    )
    # flashback of the v>=1 tail: winner = inverted v=1 event; its after
    # image is the v=0 state; inverted op is never delete here.
    q["cdc_flashback_final_state"] = (
        _EV
        + """
SELECT repo, path, prev_commit AS commit, prev_lang AS lang, sha256(prev_content) AS content_sha
FROM _ev WHERE v = 1
"""
    )
    # MINIMAL row images: per-column last-present-writer over the
    # mirrored stream (update rows carry only changed columns; the v=2
    # update does NOT carry lang, so lang's winner is an older event
    # than commit/content's — full-image LWW would return NULL here)
    q["cdc_minimal_image_final_state"] = """
WITH m AS (
  SELECT d.doc_id, g.v, g.v*1000000 + d.doc_id AS seq,
         CASE WHEN g.v=0 THEN 'insert'
              WHEN (d.doc_id+g.v)%7=0 THEN 'delete'
              ELSE 'update' END AS op,
         'repo-' || lpad(cast(d.doc_id%37 AS varchar),4,'0') AS repo,
         'src/' || cast(d.doc_id AS varchar) || '.txt' AS path,
         d.lang AS doc_lang, d.text AS text
  FROM documents d CROSS JOIN (SELECT range AS v FROM range(0,3)) g
),
ev AS (
  SELECT *,
    CASE WHEN op='delete' THEN NULL
         ELSE lpad(cast(v*1000000+doc_id AS varchar),12,'0') END AS c_commit,
    CASE WHEN op='insert' THEN doc_lang
         WHEN op='update' AND v=1 THEN 'xx'
         ELSE NULL END AS c_lang,
    CASE WHEN op='delete' THEN NULL
         ELSE text || '#v' || cast(v AS varchar) END AS c_content
  FROM m
)
SELECT repo, path, commit, lang, sha256(content) AS content_sha FROM (
  SELECT repo, path,
         last_value(c_commit IGNORE NULLS) OVER w AS commit,
         last_value(c_lang IGNORE NULLS) OVER w AS lang,
         last_value(c_content IGNORE NULLS) OVER w AS content,
         last_value(op) OVER w AS last_op,
         row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
  FROM ev
  WINDOW w AS (PARTITION BY repo, path ORDER BY seq
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
) WHERE rn=1 AND last_op <> 'delete'
"""
    # MOR variant stores MINIMAL deltas and resolves per-column at READ
    # time — identical register semantics, identical oracle
    q["cdc_minimal_image_mor_final_state"] = q["cdc_minimal_image_final_state"]
    q["cdc_time_range_filter"] = """
SELECT event_id, epoch_us(ts) AS ts_us, event_type, value FROM events
WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' AND ts <= TIMESTAMP '2024-01-04 23:59:59'
"""
    q["cdc_pos_range_filter"] = (
        _EEV
        + """
SELECT event_id, log_file, log_pos FROM _eev
WHERE (log_file > 'bin.000002' OR (log_file = 'bin.000002' AND log_pos >= 100000))
  AND (log_file < 'bin.000004' OR (log_file = 'bin.000004' AND log_pos <= 300000))
"""
    )
    q["cdc_gtid_filter"] = (
        _EEV
        + f"""
SELECT event_id, gtid_uuid, gno FROM _eev
WHERE (gtid_uuid = '{SERVER_UUIDS[0]}' AND gno BETWEEN 0 AND 3000)
   OR (gtid_uuid = '{SERVER_UUIDS[0]}' AND gno BETWEEN 5000 AND 6000)
   OR (gtid_uuid = '{SERVER_UUIDS[2]}' AND gno BETWEEN 2000 AND 4000)
"""
    )
    q["cdc_dml_type_filter"] = _EEV + "SELECT event_id, op FROM _eev WHERE op IN ('insert','delete')"
    q["cdc_thread_filter"] = _EEV + "SELECT event_id, user_id FROM _eev WHERE thread_id = 7"
    q["cdc_schema_table_filter"] = (
        _EEV
        + """
SELECT db, "table", count(*) AS n FROM _eev
WHERE lower(db) IN ('test','meta')
  AND (lower("table") = 't0' OR (lower(db)='meta' AND lower("table")='t2'))
GROUP BY db, "table"
"""
    )
    q["cdc_max_rows_limit"] = _EEV + "SELECT event_id, op FROM _eev ORDER BY event_id LIMIT 500"
    q["cdc_stats_per_table"] = (
        _EEV
        + """
SELECT db, "table",
       CAST(sum(CASE WHEN op='insert' THEN 1 ELSE 0 END) AS BIGINT) AS inserts,
       CAST(sum(CASE WHEN op='update' THEN 1 ELSE 0 END) AS BIGINT) AS updates,
       CAST(sum(CASE WHEN op='delete' THEN 1 ELSE 0 END) AS BIGINT) AS deletes,
       count(*) AS total,
       epoch_us(min(ts)) AS first_ts_us,
       epoch_us(max(ts)) AS last_ts_us
FROM _eev WHERE op <> 'ddl' GROUP BY db, "table"
"""
    )
    cols = ["repo", "path", "commit", "lang", "content"]
    vals = ",".join("' || " + L(c) + " || '" for c in cols) + ",NULL"
    collist = ",".join(f"`{c}`" for c in cols + ["branch"])
    q["cdc_render_insert_sql"] = (
        _EV
        + f"""
SELECT seq, 'INSERT INTO `test`.`repo_files`({collist}) VALUES({vals});' AS sql
FROM _ev WHERE op='insert'
"""
    )
    # minimal update: keys unchanged; commit+content always change; lang
    # changes only at v=2 ('xx' vs base lang, unless base lang IS 'xx');
    # branch NULL=NULL unchanged.
    q["cdc_render_update_minimal"] = (
        _EV
        + f"""
SELECT seq,
  'UPDATE `test`.`repo_files` SET ' ||
  '`commit`=' || {L("commit")} ||
  (CASE WHEN lang IS DISTINCT FROM prev_lang THEN ',`lang`=' || {L("lang")} ELSE '' END) ||
  ',`content`=' || {L("content")} ||
  ' WHERE `repo`=' || {L("repo")} || ' AND `path`=' || {L("path")} || ';' AS sql
FROM _ev WHERE op='update'
"""
    )
    q["cdc_render_delete_sql"] = (
        _EV
        + f"""
SELECT seq,
  'DELETE FROM `test`.`repo_files` WHERE `repo`=' || {L("repo")} || ' AND `path`=' || {L("path")} || ';' AS sql
FROM _ev WHERE op='delete'
"""
    )
    q["cdc_render_ddl"] = (
        _EEV
        + """
SELECT event_id AS seq,
       'USE `' || db || '`;' || chr(10) ||
       'ALTER TABLE `' || db || '`.`' || "table" || '` COMMENT ''e' || cast(event_id AS varchar) || ''';' AS sql
FROM _eev WHERE op = 'ddl'
"""
    )
    tup = "'(' || " + " || ',' || ".join(L(c) for c in cols) + " || ',NULL)'"
    q["cdc_render_multi_insert"] = (
        _EV
        + f"""
SELECT seq,
       'INSERT INTO `test`.`repo_files`({collist}) VALUES' || vals || ';' AS sql
FROM (
  SELECT min(seq) AS seq, string_agg(tup, ',' ORDER BY seq) AS vals
  FROM (SELECT seq, (row_number() OVER (ORDER BY seq) - 1)//100 AS chunk, {tup} AS tup
        FROM _ev WHERE op='insert')
  GROUP BY chunk)
"""
    )
    q["cdc_output_decoration"] = (
        _EV
        + """
SELECT seq,
  CASE WHEN lag(gtid) OVER w IS NULL OR lag(gtid) OVER w <> gtid
       THEN '# GTID ' || gtid END AS gtid_comment,
  CASE WHEN lag(sec) OVER w IS NULL OR lag(sec) OVER w <> sec
       THEN '; # ' || strftime(sec, '%Y-%m-%d %H:%M:%S') END AS time_comment
FROM (SELECT seq, gtid_uuid || ':' || cast(gno AS varchar) AS gtid,
             date_trunc('second', ts) AS sec FROM _ev)
WINDOW w AS (ORDER BY seq)
"""
    )
    q["dedup_exact"] = """
WITH d AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id+1000000, text FROM documents)
SELECT md5(text) AS digest, min(doc_id) AS keeper_id, count(*) AS n_docs
FROM d GROUP BY md5(text)
"""
    q["dedup_fingerprint"] = """
SELECT md5(array_to_string(list_sort(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))), ' ')) AS fingerprint,
       min(doc_id) AS keeper_id, count(*) AS n_docs
FROM documents GROUP BY 1
"""
    # incremental SimHash == full recompute on the same partial-tail
    # final state as the minhash twin; the signature is recomputed from
    # scratch in SQL (16 bits, _simhash_bit), so this also gates the
    # simhash signature operator itself (subsumes the retired
    # dedup_simhash gate)
    q["dedup_incremental_simhash"] = (
        _EV
        + """
, evf AS (SELECT * FROM _ev WHERE v < 2 OR doc_id % 3 = 0),
fin AS (SELECT repo, path, content
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) rn
              FROM evf)
        WHERE rn = 1 AND op <> 'delete'),
w AS (SELECT repo, path, string_split_regex(trim(content), '\\s+') AS _w FROM fin)
SELECT repo, path, """
        + " || ".join(_simhash_bit(j) for j in range(16))
        + " AS simhash FROM w"
    )
    # duplicate-span detection: distinct 16-token/stride-8 span hashes,
    # doc-frequency >= 2 flags a span (DuckDB list slice l[a:b] is
    # 1-based end-inclusive = Spark slice(t, a, b-a+1))
    q["dedup_span_ratio"] = f"""
WITH d AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 3 = 0),
t AS (SELECT doc_id, {_WORDS} AS toks FROM d),
sp AS (SELECT doc_id,
         list_distinct(list_transform(
           generate_series(0, greatest(CAST(floor((len(toks) - 16) / 8) AS INT) + 1, 1) - 1),
           i -> md5(array_to_string(toks[i*8+1 : i*8+16], ' ')))) AS spans
       FROM t),
e AS (SELECT doc_id, unnest(spans) AS s FROM sp),
f AS (SELECT s, count(DISTINCT doc_id) AS df FROM e GROUP BY s)
SELECT e.doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
       round(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS dup_ratio
FROM e JOIN f USING (s) GROUP BY e.doc_id
"""
    # per-source rollup: corpus-wide digest counts, exact percentile_cont
    q["corpus_stats_by_source"] = f"""
WITH dd AS (SELECT doc_id, source, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, source, text FROM documents WHERE doc_id % 11 = 0),
b AS (SELECT doc_id, source, md5(text) AS dg, len({_WORDS}) AS nt, {_WORDS} AS _w
      FROM dd),
b2 AS (SELECT doc_id, source, dg, nt,
         round((CASE WHEN nt >= 20 THEN 1.0 ELSE CAST(nt AS double)/20.0 END)
           * (CASE WHEN round(CAST(len(list_filter(_w, x -> lower(x) IN ('the','a','of','and','to','in'))) AS double)/len(_w), 4) BETWEEN 0.01 AND 0.5 THEN 1.0 ELSE 0.5 END)
           * (CASE WHEN round(CAST(list_sum(list_transform(_w, x -> length(x))) AS double)/len(_w), 4) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END), 4) AS q
       FROM b),
c AS (SELECT dg, count(*) AS copies FROM b2 GROUP BY dg)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN c.copies >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
       round(sum(CAST(round(q * 10000) AS BIGINT)) / (10000.0 * count(*)), 4) AS avg_quality,
       round(quantile_cont(nt, 0.5), 2) AS p50_tokens,
       round(quantile_cont(nt, 0.9), 2) AS p90_tokens
FROM b2 JOIN c USING (dg) GROUP BY source ORDER BY source
"""
    # incremental signature maintenance == full recompute on the final
    # state: stream = all v0+v1 events plus the v2 tail of doc_id%3==0
    # (mirrors _q_incremental_minhash's two commits); signatures over
    # each live key's winning content
    q["dedup_incremental_minhash"] = (
        _EV
        + """
, evf AS (SELECT * FROM _ev WHERE v < 2 OR doc_id % 3 = 0),
fin AS (SELECT repo, path, content
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) rn
              FROM evf)
        WHERE rn = 1 AND op <> 'delete'),
w AS (SELECT repo, path, string_split_regex(trim(content), '\\s+') AS _w FROM fin),
s AS (SELECT repo, path, list_transform(generate_series(1, greatest(len(_w)-2, 1)),
                                        i -> md5(concat_ws(' ', _w[i], _w[i+1], _w[i+2]))) AS _sh
      FROM w)
SELECT repo, path,
       list_min(list_transform(_sh, x -> md5('0:' || x))) AS mh0,
       list_min(list_transform(_sh, x -> md5('1:' || x))) AS mh1,
       list_min(list_transform(_sh, x -> md5('2:' || x))) AS mh2,
       list_min(list_transform(_sh, x -> md5('3:' || x))) AS mh3
FROM s
"""
    )
    q["dedup_minhash_lsh_pairs"] = f"""
WITH d AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id+1000000, text FROM documents),
sig AS (
  SELECT doc_id,
         list_min(list_transform(_sh, s -> md5('0:' || s))) AS mh0,
         list_min(list_transform(_sh, s -> md5('1:' || s))) AS mh1,
         list_min(list_transform(_sh, s -> md5('2:' || s))) AS mh2,
         list_min(list_transform(_sh, s -> md5('3:' || s))) AS mh3
  FROM (SELECT doc_id, {_SHINGLES} AS _sh
        FROM (SELECT doc_id, {_WORDS} AS _w FROM d))
),
bands AS (
  SELECT doc_id, 0 AS band, md5(mh0 || '|' || mh1) AS digest FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(mh2 || '|' || mh3) AS digest FROM sig
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.digest = b.digest AND a.doc_id < b.doc_id
"""
    q["dedup_connected_keepers"] = f"""
WITH RECURSIVE d AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id+1000000, text FROM documents),
sig AS (
  SELECT doc_id,
         list_min(list_transform(_sh, s -> md5('0:' || s))) AS mh0,
         list_min(list_transform(_sh, s -> md5('1:' || s))) AS mh1,
         list_min(list_transform(_sh, s -> md5('2:' || s))) AS mh2,
         list_min(list_transform(_sh, s -> md5('3:' || s))) AS mh3
  FROM (SELECT doc_id, {_SHINGLES} AS _sh
        FROM (SELECT doc_id, {_WORDS} AS _w FROM d))
),
bands AS (
  SELECT doc_id, 0 AS band, md5(mh0 || '|' || mh1) AS digest FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(mh2 || '|' || mh3) AS digest FROM sig
),
prs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.digest = b.digest AND a.doc_id < b.doc_id
),
edges AS (SELECT id_a AS src, id_b AS dst FROM prs
          UNION ALL SELECT id_b AS src, id_a AS dst FROM prs),
reach(v, l) AS (
  SELECT doc_id, doc_id FROM d
  UNION
  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v
)
SELECT v AS doc_id, min(l) AS keeper_id FROM reach GROUP BY v
"""
    # simhash pairs (64-bit banded, VERDICT r4 #2): 4x16-bit band
    # buckets generate candidates (pigeonhole: hamming<=3 pairs share a
    # band), exact 64-position hamming verifies — mirrors
    # dedup.simhash_pairs_banded, never all-pairs
    _band_union = "\nUNION ALL ".join(
        f"SELECT doc_id, {b} AS band, substr(sig, {b * 16 + 1}, 16) AS bits FROM s"
        for b in range(4)
    )
    _hamm64 = " + ".join(
        f"(CASE WHEN substr(sa.sig,{j + 1},1) <> substr(sb.sig,{j + 1},1) THEN 1 ELSE 0 END)"
        for j in range(64)
    )
    q["dedup_simhash_pairs"] = (
        f"""
WITH dd AS (SELECT doc_id, text FROM documents
            UNION ALL SELECT doc_id + 1000000, text FROM documents
            UNION ALL SELECT doc_id + 2000000, text || ' zqxv' FROM documents),
w AS (SELECT doc_id, {_WORDS} AS _w FROM dd WHERE doc_id % 5 = 0),
s AS (SELECT doc_id, """
        + " || ".join(_simhash_bit(j) for j in range(64))
        + f""" AS sig FROM w),
bd AS ({_band_union}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bd a JOIN bd b
           ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id),
h AS (SELECT cand.id_a, cand.id_b, {_hamm64} AS hamming
      FROM cand JOIN s sa ON sa.doc_id = cand.id_a
                JOIN s sb ON sb.doc_id = cand.id_b)
SELECT id_a, id_b, CAST(hamming AS INT) AS hamming FROM h WHERE hamming <= 3
"""
    )
    q["dedup_ngram_jaccard"] = f"""
WITH dd AS (SELECT doc_id, lang, text FROM documents
            UNION ALL SELECT doc_id + 1000000, lang, text FROM documents),
s AS (SELECT doc_id, lang, list_distinct({_SHINGLES}) AS sh
      FROM (SELECT doc_id, lang, {_WORDS} AS _w FROM dd WHERE doc_id % 5 = 0))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(cast(len(list_intersect(a.sh, b.sh)) AS double)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE round(cast(len(list_intersect(a.sh, b.sh)) AS double)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) >= 0.05
"""
    # decontamination: mirrored shingles; eval shingle set distinct-joined
    q["curate_decontaminate"] = f"""
WITH d AS (SELECT doc_id, {_WORDS} AS _w FROM documents),
sh AS (SELECT doc_id, {_SHINGLES} AS sh FROM d),
ev AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id%97=0),
train AS (
  SELECT doc_id, sh FROM sh WHERE doc_id%97<>0
  UNION ALL
  SELECT doc_id+1000000 AS doc_id, sh FROM sh WHERE doc_id%97=0
),
tr AS (SELECT doc_id, unnest(sh) AS s FROM train)
SELECT tr.doc_id, CAST(count(DISTINCT tr.s) AS BIGINT) AS eval_hits
FROM tr JOIN ev ON tr.s = ev.s
GROUP BY tr.doc_id
"""
    # pack_sequences invariants (bin assignment is not SQL; conservation,
    # budget-violation and multi-assignment counters are — see
    # _q_pack_sequences docstring)
    q["pack_sequences"] = f"""
WITH tok AS (
  SELECT doc_id, len({_WORDS}) AS n_tokens, doc_id%64 AS grp FROM documents
)
SELECT grp, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(0 AS BIGINT) AS violating_bins,
       CAST(0 AS BIGINT) AS multi_assigned,
       CAST(sum(CASE WHEN n_tokens > 512 THEN 1 ELSE 0 END) AS BIGINT) AS oversized_docs
FROM tok GROUP BY grp
"""
    # PII scrub: same seeded text, same pattern order (email THEN ip),
    # RE2/Java-shared regex syntax; 'g' = replace-all like Spark
    q["text_pii_scrub"] = """
WITH seeded AS (
  SELECT doc_id,
         text || ' contact u' || cast(doc_id AS varchar) || '@ex-mail.org from 10.0.'
              || cast(doc_id%200 AS varchar) || '.7 now' AS t
  FROM documents
), s AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g') AS scrubbed
  FROM seeded
)
SELECT doc_id, sha256(scrubbed) AS scrubbed_sha,
       CAST(len(string_split(scrubbed, '<EMAIL>')) - 1 AS INT) AS n_emails,
       CAST(len(string_split(scrubbed, '<IP>')) - 1 AS INT) AS n_ips
FROM s
"""
    q["text_repetition_ratio"] = f"""
WITH t AS (SELECT doc_id, {_WORDS} AS toks FROM documents)
SELECT doc_id,
       CASE WHEN len(toks) > 0 THEN
         round(CAST(list_max(list_transform(list_distinct(toks),
                                            w -> len(list_filter(toks, x -> x = w)))) AS double)
               / len(toks), 4)
       END AS rep_ratio
FROM t
"""
    q["text_token_count"] = f"""
SELECT doc_id, len({_WORDS}) AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe
FROM documents
"""
    sw = "the','a','of','and','to','in"
    q["text_quality_score"] = f"""
WITH t AS (SELECT doc_id, {_WORDS} AS _w FROM documents),
m AS (SELECT doc_id, len(_w) AS n,
             round(cast(len(list_filter(_w, x -> lower(x) IN ('{sw}'))) AS double)/len(_w), 4) AS swr,
             round(cast(list_sum(list_transform(_w, x -> length(x))) AS double)/len(_w), 4) AS atl
      FROM t)
SELECT doc_id, swr AS stopword_ratio, atl AS avg_token_len,
       round((CASE WHEN n>=20 THEN 1.0 ELSE cast(n AS double)/20.0 END)
             * (CASE WHEN swr BETWEEN 0.01 AND 0.5 THEN 1.0 ELSE 0.5 END)
             * (CASE WHEN atl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END), 4) AS quality
FROM m
"""
    marker = {
        "en": "'the','a','of'",
        "es": "'el','la','de'",
        "de": "'der','die','das'",
        "fr": "'le','la','et'",
        "zh": "'de','le','shi'",
    }
    score_exprs = ",\n".join(
        f"len(list_filter(_w, x -> lower(x) IN ({words}))) AS s_{lang}"
        for lang, words in marker.items()
    )
    q["text_lang_id"] = f"""
WITH t AS (SELECT doc_id, {_WORDS} AS _w FROM documents),
s AS (SELECT doc_id, {score_exprs} FROM t),
m AS (SELECT *, greatest(s_en, s_es, s_de, s_fr, s_zh) AS m FROM s)
SELECT doc_id, {_LANG_CASE} AS lang_pred FROM m
"""
    from bingo2sql_spark.functions.sampling import threshold_hex

    q["curate_corpus"] = f"""
WITH t AS (SELECT doc_id, lang, text, {_WORDS} AS _w FROM documents),
m AS (SELECT doc_id, lang, text, len(_w) AS n,
             round(cast(len(list_filter(_w, x -> lower(x) IN ('{sw}'))) AS double)/len(_w), 4) AS swr,
             round(cast(list_sum(list_transform(_w, x -> length(x))) AS double)/len(_w), 4) AS atl
      FROM t),
qscore AS (SELECT doc_id, lang, text,
       round((CASE WHEN n>=20 THEN 1.0 ELSE cast(n AS double)/20.0 END)
             * (CASE WHEN swr BETWEEN 0.01 AND 0.5 THEN 1.0 ELSE 0.5 END)
             * (CASE WHEN atl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END), 4) AS quality
FROM m),
k AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
SELECT q.doc_id, q.lang, q.quality
FROM qscore q JOIN k ON q.doc_id = k.doc_id
WHERE q.quality >= 0.5 AND q.lang IN ('en','es','de')
  AND substr(md5('curate:' || cast(q.doc_id AS varchar)), 1, 8) < '{threshold_hex(0.8)}'
"""
    q["curate_corpus_neardup"] = f"""
WITH RECURSIVE d AS (SELECT doc_id, lang, text FROM documents
           UNION ALL SELECT doc_id+1000000, lang, text FROM documents),
sig AS (
  SELECT doc_id,
         list_min(list_transform(_sh, s -> md5('0:' || s))) AS mh0,
         list_min(list_transform(_sh, s -> md5('1:' || s))) AS mh1,
         list_min(list_transform(_sh, s -> md5('2:' || s))) AS mh2,
         list_min(list_transform(_sh, s -> md5('3:' || s))) AS mh3
  FROM (SELECT doc_id, {_SHINGLES} AS _sh
        FROM (SELECT doc_id, {_WORDS} AS _w FROM d))
),
bands AS (
  SELECT doc_id, 0 AS band, md5(mh0 || '|' || mh1) AS digest FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(mh2 || '|' || mh3) AS digest FROM sig
),
prs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.digest = b.digest AND a.doc_id < b.doc_id
),
edges AS (SELECT id_a AS src, id_b AS dst FROM prs
          UNION ALL SELECT id_b AS src, id_a AS dst FROM prs),
reach(v, l) AS (
  SELECT doc_id, doc_id FROM d
  UNION
  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v
),
keep AS (SELECT v AS doc_id FROM reach GROUP BY v HAVING min(l) = v),
t AS (SELECT d.doc_id, d.lang, d.text, {_WORDS} AS _w
      FROM d JOIN keep ON d.doc_id = keep.doc_id),
m AS (SELECT doc_id, lang, len(_w) AS n,
             round(cast(len(list_filter(_w, x -> lower(x) IN ('{sw}'))) AS double)/len(_w), 4) AS swr,
             round(cast(list_sum(list_transform(_w, x -> length(x))) AS double)/len(_w), 4) AS atl
      FROM t),
qscore AS (SELECT doc_id, lang,
       round((CASE WHEN n>=20 THEN 1.0 ELSE cast(n AS double)/20.0 END)
             * (CASE WHEN swr BETWEEN 0.01 AND 0.5 THEN 1.0 ELSE 0.5 END)
             * (CASE WHEN atl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END), 4) AS quality
FROM m)
SELECT doc_id, lang, quality
FROM qscore
WHERE quality >= 0.5 AND lang IN ('en','es','de')
  AND substr(md5('curate:' || cast(doc_id AS varchar)), 1, 8) < '{threshold_hex(0.8)}'
"""
    q["sample_stratified"] = f"""
SELECT doc_id, lang FROM documents
WHERE substr(md5('mix:' || cast(doc_id AS varchar)), 1, 8) <
      (CASE lang WHEN 'en' THEN '{threshold_hex(1.0)}'
                 WHEN 'es' THEN '{threshold_hex(0.5)}'
                 WHEN 'de' THEN '{threshold_hex(0.25)}'
                 ELSE '{threshold_hex(0.0)}' END)
"""
    q["ann_cosine_topk"] = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id%50=0),
s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
             CAST(list_dot_product(list_transform(e.embedding, x->round(cast(x AS double)*1000)),
                                   list_transform(q.qv,        x->round(cast(x AS double)*1000))) AS BIGINT) AS dot_scaled
      FROM embeddings e, q)
SELECT query_id, neighbor_id, dot_scaled, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dot_scaled DESC, neighbor_id) AS rank FROM s
) WHERE rank <= 5
"""
    _IDOT = (
        "CAST(list_dot_product("
        "list_transform({a}, x->round(cast(x AS double)*1000)), "
        "list_transform({b}, x->round(cast(x AS double)*1000))) AS BIGINT)"
    )
    q["ann_ivf_topk"] = f"""
WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id % 37 = 0),
a AS (  -- corpus cell map: argmax integer dot, smallest cid on ties
  SELECT vec_id, cid AS cell, embedding FROM (
    SELECT e.vec_id, c.cid, e.embedding,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_IDOT.format(a='e.embedding', b='c.cv')} DESC, c.cid) AS rn
    FROM embeddings e CROSS JOIN c)
  WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
qp AS (  -- each query probes its 2 nearest cells
  SELECT query_id, cid AS cell, qv FROM (
    SELECT q.query_id, c.cid, q.qv,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_IDOT.format(a='q.qv', b='c.cv')} DESC, c.cid) AS rn
    FROM q CROSS JOIN c)
  WHERE rn <= 2
),
s AS (SELECT qp.query_id, a.vec_id AS neighbor_id,
             {_IDOT.format(a='a.embedding', b='qp.qv')} AS dot_scaled
      FROM qp JOIN a ON a.cell = qp.cell)
SELECT query_id, neighbor_id, dot_scaled, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dot_scaled DESC, neighbor_id) AS rank FROM s
) WHERE rank <= 5
"""
    q["ann_lsh_topk"] = _lsh_oracle()
    # one-bit multi-probe: candidate pairs are those whose buckets are
    # within Hamming distance 1; the probe side mirrors similarity.py's
    # smaller-id-member-is-home emission (home a joins b's home+probes,
    # so each qualifying pair matches exactly once)
    ecd_probes = ["SELECT vec_id, embedding, bkt AS pbkt FROM v"]
    for j in range(8):
        flip = (
            f"substr(bkt,1,{j}) || "
            f"(CASE WHEN substr(bkt,{j + 1},1)='1' THEN '0' ELSE '1' END) || "
            f"substr(bkt,{j + 2})"
        )
        ecd_probes.append(f"SELECT vec_id, embedding, {flip} AS pbkt FROM v")
    ecd_union = "\n  UNION ALL ".join(ecd_probes)
    q["dedup_embedding_cosine"] = f"""
WITH d AS (SELECT vec_id, embedding FROM embeddings
           UNION ALL SELECT vec_id+100000, embedding FROM embeddings),
v AS (SELECT vec_id, embedding, {_bucket_expr_sql('embedding', 8)} AS bkt FROM d),
p AS ({ecd_union})
SELECT * FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(list_dot_product(list_transform(a.embedding, x->round(cast(x AS double)*1000)),
                               list_transform(b.embedding, x->round(cast(x AS double)*1000))) AS BIGINT) AS dot_scaled
  FROM v a JOIN p b ON a.bkt = b.pbkt AND a.vec_id < b.vec_id
) WHERE dot_scaled >= 900000
"""
    # combined relational-join gate: revenue rollup + left-anti branch
    # (customers with no orders) full-outer-merged per nation/region
    q["join_revenue_by_nation"] = """
WITH rev AS (
  SELECT n.n_name AS nation, r.r_name AS region,
         count(*) AS n_orders,
         cast(sum(cast(o.o_totalprice AS decimal(18,2))) AS double) AS revenue
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY n.n_name, r.r_name
),
noo AS (
  SELECT n.n_name AS nation, r.r_name AS region,
         count(*) AS n_custs_no_orders
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
  GROUP BY n.n_name, r.r_name
)
SELECT coalesce(rev.nation, noo.nation) AS nation,
       coalesce(rev.region, noo.region) AS region,
       coalesce(n_orders, 0) AS n_orders,
       coalesce(revenue, 0.0) AS revenue,
       coalesce(n_custs_no_orders, 0) AS n_custs_no_orders
FROM rev FULL OUTER JOIN noo ON rev.nation = noo.nation AND rev.region = noo.region
"""
    q["agg_pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
       cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
       cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) AS sum_base_price,
       count(*) AS count_order,
       cast(round(avg(cast(l_discount AS decimal(18,2))), 6) AS double) AS avg_disc
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""
    q["events_sessionize"] = """
WITH g AS (
  SELECT user_id, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts)//1000000 - epoch_us(lag(ts) OVER w)//1000000 > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (SELECT user_id, event_id,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g)
SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM s GROUP BY user_id
"""
    q["cdc_binlog_binary_decode"] = """
SELECT event_id, user_id, event_type, value
FROM events WHERE event_id < 20000
"""
    q["events_topk_per_user"] = """
SELECT user_id, event_id, value, rank FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rank
  FROM events
) WHERE rank <= 3
"""
    q["multimodal_binary_meta"] = """
SELECT doc_id, octet_length(encode(text)) AS n_bytes,
       ascii(substr(text,1,1)) AS first_byte,
       octet_length(encode(text)) % 256 AS feat0
FROM documents
"""
    return q


def pytest_only_oracle_sql() -> dict[str, str]:
    """Oracles for pytest_only_queries() — same DuckDB contract as
    oracle_sql(), run only by tests/test_oracle_parity (these queries
    were retired from the driver's capped 50-row gate set)."""
    q = {}
    q["events_windowed_counts"] = """
SELECT (epoch_us(ts)//1000000//21600)*21600 AS window_start, event_type,
       count(*) AS n,
       cast(round(sum(cast(value AS decimal(18,2))), 2) AS double) AS total_value
FROM events GROUP BY 1, 2
"""
    q["dedup_minhash_signature"] = f"""
SELECT doc_id,
       list_min(list_transform(_sh, s -> md5('0:' || s))) AS mh0,
       list_min(list_transform(_sh, s -> md5('1:' || s))) AS mh1,
       list_min(list_transform(_sh, s -> md5('2:' || s))) AS mh2,
       list_min(list_transform(_sh, s -> md5('3:' || s))) AS mh3
FROM (SELECT doc_id, {_SHINGLES} AS _sh
      FROM (SELECT doc_id, {_WORDS} AS _w FROM documents))
"""
    q["dedup_simhash"] = (
        "SELECT doc_id, "
        + " || ".join(_simhash_bit(j) for j in range(8))
        + f" AS simhash FROM (SELECT doc_id, {_WORDS} AS _w FROM documents)"
    )
    q["join_revenue_by_nation_solo"] = """
SELECT n.n_name AS nation, r.r_name AS region,
       count(*) AS n_orders,
       cast(sum(cast(o.o_totalprice AS decimal(18,2))) AS double) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY n.n_name, r.r_name
"""
    q["join_semi_anti_segments"] = """
WITH w AS (
  SELECT c_mktsegment, count(*) AS n_with_orders FROM customer c
  WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
  GROUP BY c_mktsegment
),
wo AS (
  SELECT c_mktsegment, count(*) AS n_without_orders FROM customer c
  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
  GROUP BY c_mktsegment
)
SELECT coalesce(w.c_mktsegment, wo.c_mktsegment) AS c_mktsegment,
       coalesce(n_with_orders, 0) AS n_with_orders,
       coalesce(n_without_orders, 0) AS n_without_orders
FROM w FULL OUTER JOIN wo ON w.c_mktsegment = wo.c_mktsegment
"""
    return q
