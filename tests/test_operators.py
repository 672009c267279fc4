"""Unit tests: decode round-trip, render golden shapes
(mirroring reference parser_test.go cases), minimal row image, stats,
multimodal plumbing, compaction."""

from __future__ import annotations

from pyspark.sql import functions as F

from bingo2sql_spark.operators import stats as ST
from bingo2sql_spark.sources.decode import decode_events
from bingo2sql_spark.sources.synth import generate_events, to_raw


def test_decode_jvm_equals_arrow_equals_original(spark, small_events):
    """to_raw -> decode_events roundtrip preserves the envelope (the
    reference's remote-vs-local differential, core/parser_test.go:434-453)."""
    decoded = decode_events(to_raw(small_events))

    def digest(df):
        return sorted(
            df.select(
                "seq",
                F.sha2(F.coalesce(F.to_json("before"), F.lit("")), 256).alias("b"),
                F.sha2(F.coalesce(F.to_json("after"), F.lit("")), 256).alias("a"),
            ).collect()
        )

    d0 = digest(small_events.select("seq", "before", "after"))
    assert digest(decoded) == d0


def test_decode_schema_evolution_null_fill(spark, small_events):
    """Decoding v2 raw data against the v1 registry drops `branch`;
    decoding v1 data against v2 NULL-fills it (T10 upgraded)."""
    raw = to_raw(small_events)
    v1 = decode_events(raw, schema_ver=1)
    assert "branch" not in [f.name for f in v1.schema["after"].dataType.fields]
    v2 = decode_events(raw.filter("schema_ver = 1"), schema_ver=2)
    assert v2.filter("after is not null and after.branch is not null").count() == 0


def _decode_unsigned(ctype: int, raws: list) -> list:
    """Raw (signed, two's-complement) values of one UNSIGNED column,
    written to a binlog and decoded back with the registry's flag."""
    import json
    from types import SimpleNamespace

    from bingo2sql_spark.sources import binlog_binary as B

    w = B.BinlogWriter(checksum=True)
    w.table_map("d", "u", [ctype], [0], ts=1)
    w.rows("d", "u", "insert", [ctype], [0], [[v] for v in raws], ts=1)
    col = SimpleNamespace(name="v", unsigned=True)
    evs = B.parse_binlog_bytes(w.bytes(), log_file="b.1", names_for={"d.u": [col]})
    return [json.loads(e["after_json"])["v"] for e in evs]


def test_unsigned_fixup():
    """UNSIGNED integers (processValue core/parser.go:1322-1360): a raw
    value with the sign bit set decodes as 1<<bits + v."""
    from bingo2sql_spark.sources import binlog_binary as B

    assert _decode_unsigned(B.T_TINY, [-1, -128, 5, 0]) == [255, 128, 5, 0]
    assert _decode_unsigned(B.T_LONG, [-1, -(1 << 31)]) == [4294967295, 1 << 31]
    # exact past float64's 2^53 integer range
    assert _decode_unsigned(B.T_LONGLONG, [(1 << 53) + 1]) == [(1 << 53) + 1]


def test_unsigned_fixup_u64_decimal():
    """BIGINT UNSIGNED (core/parser.go:1352-1358): the value exceeds
    int64 — exact over the full uint64 range, incl. the 2^63 +/- 1
    boundary and MaxUint64 (-1 raw); NULL stays NULL."""
    from bingo2sql_spark.sources import binlog_binary as B

    raw = [-1, -(1 << 63), (1 << 63) - 1, 0, None]
    got = _decode_unsigned(B.T_LONGLONG, raw)
    assert got == [(1 << 64) - 1, 1 << 63, (1 << 63) - 1, 0, None]
    assert all(isinstance(v, int) for v in got[:4])
    # fits a Spark DecimalType(20,0) column: uint64 range, integral
    assert all(0 <= v <= (1 << 64) - 1 for v in got[:4])


def test_render_golden_shapes(spark, small_events):
    """Golden statement shapes mirroring the reference's expectations
    (multi-column INSERT core/parser_test.go:538, minimal UPDATE
    core/parser_test.go:770-784, DELETE WHERE on keys)."""
    from bingo2sql_spark.functions.render import render_sql

    one_ins = (
        render_sql(small_events.filter("op = 'insert' and seq = 0"))
        .collect()[0]["sql"]
    )
    assert one_ins.startswith(
        "INSERT INTO `test`.`repo_files`(`repo`,`path`,`commit`,`lang`,`content`,`branch`) VALUES("
    )
    assert one_ins.endswith(");") and ",NULL)" in one_ins  # v1 insert: branch NULL

    upd = small_events.filter("op = 'update'").limit(1)
    sql = render_sql(upd).collect()[0]["sql"]
    assert sql.startswith("UPDATE `test`.`repo_files` SET ")
    assert " WHERE `repo`='" in sql and "` AND `path`='" not in sql  # keys quoted individually
    assert "AND `path`='" in sql
    # minimal mode: unchanged key columns never appear in SET
    assert "`repo`=" not in sql.split(" WHERE ")[0].replace("SET `repo`", "")

    dele = render_sql(small_events.filter("op = 'delete'").limit(1)).collect()[0]["sql"]
    assert dele.startswith("DELETE FROM `test`.`repo_files` WHERE `repo`='")


def test_render_escaping(spark):
    """Backslash/quote escaping (escapeBytesBackslash
    core/parser.go:1894-1935)."""
    from bingo2sql_spark.functions.render import render_sql

    from bingo2sql_spark import schema as S

    from datetime import datetime

    env = spark.createDataFrame(
        [
            (
                1, "bin.1", 4, "u", 1, datetime(2024, 1, 1), 1, "test", "repo_files", "insert",
                None,
                ("r'1", "a\\b", "c1", "go", "x'y\\z\nq\x00u\x1av\"w", None),
                None, 1,
            )
        ],
        S.envelope_schema(),
    )
    sql = render_sql(env).collect()[0]["sql"]
    assert "'r\\'1'" in sql
    assert "'a\\\\b'" in sql
    # full escapeBytesBackslash set: NUL -> \0, Ctrl-Z -> \Z, " -> \"
    assert "x\\'y\\\\z\\nq\\0u\\Zv\\\"w" in sql
    assert "\x00" not in sql and "\x1a" not in sql


def test_minimal_row_image_changed_cols(spark):
    """MINIMAL image events carry only keys + changed cols in before
    (core/parser_test.go:727-755); changed_cols mask is set."""
    ev = generate_events(spark, n_keys=50, versions_per_key=6, minimal_image=True)
    upd = ev.filter("op = 'update'")
    assert upd.filter("changed_cols is null").count() == 0
    # unchanged columns are blanked in BOTH images
    assert upd.filter(~F.array_contains("changed_cols", "lang") & F.col("before.lang").isNotNull()).count() == 0
    assert upd.filter(~F.array_contains("changed_cols", "lang") & F.col("after.lang").isNotNull()).count() == 0
    # commit/content always change -> always present in the minimal image
    assert upd.filter("before.content is null").count() == 0
    assert upd.filter("after.commit is null").count() == 0


def test_stats_and_progress(spark, small_events):
    s = ST.table_stats(small_events).collect()
    assert {r["table"] for r in s} == {"repo_files", "audit_log"}
    for r in s:
        assert r["inserts"] + r["updates"] + r["deletes"] == r["total"]
    # reference TestComputePercent analog (core/parser_test.go:1232-1308)
    assert ST.compute_percent([100, 100], 0, 50) == 25.0
    assert ST.compute_percent([100, 100], 1, 100) == 100.0
    assert ST.compute_percent([], 0, 0) == 0.0
    assert ST.progress_percent(50, 100) == 50
    assert ST.progress_percent(1000, 100) == 99


def test_multimodal_plumbing(spark):
    from bingo2sql_spark.operators.multimodal import extract_features, synth_media

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    media = synth_media(docs)
    feats = extract_features(media)
    rows = feats.limit(5).collect()
    assert all(len(r["features"]) == 8 for r in rows)
    assert feats.count() == docs.count()
    # deterministic: same input -> same features
    again = {r["media_id"]: r["features"] for r in extract_features(media).limit(5).collect()}
    first = {r["media_id"]: r["features"] for r in rows}
    assert first == {k: again[k] for k in first}


def test_python_udf_tasks_start_without_zip_finders(spark):
    """A body wrapped by `session.on_python_worker` runs, in every task,
    on a worker whose import cache holds no zip finder: the next task's
    `importlib.invalidate_caches()` has no archive to re-read."""
    import pandas as pd

    from bingo2sql_spark.session import on_python_worker

    @on_python_worker
    def zip_finders(batches):
        import sys
        import zipimport

        n = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame({"zip_finders": [n]})

    got = spark.range(0, 400, 1, 4).mapInPandas(zip_finders, "zip_finders long")
    assert [r.zip_finders for r in got.collect()] == [0, 0, 0, 0]


def test_compact_drops_tombstones(spark, small_events, tmp_path):
    from bingo2sql_spark.operators.apply import IcebergLiteTable
    from bingo2sql_spark.pipeline import replay

    t = IcebergLiteTable(str(tmp_path / "t"), n_buckets=8)
    replay(small_events, t, batch_id="b1")
    raw = t._read_raw(spark)
    n_tomb = raw.filter("_deleted").count()
    assert n_tomb > 0
    live_before = t.state_checksum(spark)
    t.compact(spark)
    assert t._read_raw(spark).filter("_deleted").count() == 0
    assert t.state_checksum(spark) == live_before


def test_write_sql_file_ordered_and_decorated(spark, small_events, tmp_path):
    """S5/S6: ordered SQL text artifact with GTID/time comments; forward
    file replays in order, flashback file is reverse binlog order."""
    import glob

    from bingo2sql_spark.functions.render import write_sql_file

    out = str(tmp_path / "sqlout")
    sample = small_events.filter("seq < 64")
    write_sql_file(sample, out)
    lines = []
    for p in sorted(glob.glob(out + "/part-*")):
        with open(p) as f:
            lines += [ln for ln in f.read().splitlines() if ln]
    stmts = [ln for ln in lines if not ln.startswith("# GTID")]
    assert len(stmts) == 64
    assert stmts[0].startswith("INSERT INTO ")  # v0 inserts come first
    assert any(ln.startswith("# GTID ") for ln in lines)
    assert any(" # 2024-01-01" in ln for ln in lines)

    outthr = str(tmp_path / "sqlout_thr")
    write_sql_file(sample, outthr, show_gtid=False, show_time=False, show_thread=True)
    thr_lines = []
    for p in sorted(glob.glob(outthr + "/part-*")):
        with open(p) as f:
            thr_lines += [ln for ln in f.read().splitlines() if ln]
    # ShowThread parity (core/parser.go:696-720): every statement line
    # carries a thread_id suffix
    assert all(" # thread_id=" in ln for ln in thr_lines)

    outfb = str(tmp_path / "sqlout_fb")
    write_sql_file(sample, outfb, flashback=True, show_gtid=False, show_time=False)
    fb_lines = []
    for p in sorted(glob.glob(outfb + "/part-*")):
        with open(p) as f:
            fb_lines += [ln for ln in f.read().splitlines() if ln]
    # flashback of inserts = DELETEs, in reverse order of the forward file
    assert len(fb_lines) == 64
    assert all(ln.startswith("DELETE FROM ") for ln in fb_lines)


def test_decorate_blocked_equals_global_window(spark, small_events):
    """The per-block lag + carry patch is row-identical to a global
    Window.orderBy(seq) lag — including across seq gaps that span whole
    empty blocks, and at block boundaries."""
    from pyspark.sql import Window

    from bingo2sql_spark.functions.render import decorate, render_sql

    # tiny blocks + a filter that empties entire blocks
    rendered = render_sql(small_events.filter("seq < 400 or seq > 900"))
    got = {
        r["seq"]: (r["gtid_comment"], r["time_comment"])
        for r in decorate(rendered, block_size=64).collect()
    }
    w = Window.orderBy("seq")
    gtid = F.concat(F.col("gtid_uuid"), F.lit(":"), F.col("gno").cast("string"))
    sec = F.date_trunc("second", F.col("ts"))
    ref = rendered.withColumn(
        "gtid_comment",
        F.when(
            F.lag(gtid).over(w).isNull() | (F.lag(gtid).over(w) != gtid),
            F.concat(F.lit("# GTID "), gtid),
        ),
    ).withColumn(
        "time_comment",
        F.when(
            F.lag(sec).over(w).isNull() | (F.lag(sec).over(w) != sec),
            F.concat(F.lit("; # "), F.date_format(sec, "yyyy-MM-dd HH:mm:ss")),
        ),
    )
    want = {r["seq"]: (r["gtid_comment"], r["time_comment"]) for r in ref.collect()}
    assert got == want
    # time_mode="row": every row carries the timestamp comment
    rows = decorate(rendered, time_mode="row", block_size=64).collect()
    assert all(r["time_comment"] and r["time_comment"].startswith("; # 2024") for r in rows)


def test_multi_row_insert_batching(spark, small_events):
    """--minimal-insert: consecutive same-table inserts collapse into one
    multi-row VALUES statement (TestInsert core/parser_test.go:956-1006).
    Takes the FULL stream: run boundaries come from intervening events."""
    from bingo2sql_spark.functions.render import render_multi_row_inserts

    n_inserts = small_events.filter("op = 'insert'").count()
    batched = render_multi_row_inserts(small_events, batch_rows=10).collect()
    # every source row appears exactly once across all statements
    total_tuples = sum(r["sql"].count("),(") + 1 for r in batched)
    assert total_tuples == n_inserts
    assert all(r["sql"].startswith("INSERT INTO `") and r["sql"].endswith(");") for r in batched)
    assert any(r["sql"].count("),(") > 0 for r in batched), "expected multi-row batches"
    assert all(r["sql"].count("),(") + 1 <= 10 for r in batched)


def test_insert_batching_never_crosses_non_insert(spark):
    """Same-table inserts separated by an intervening UPDATE land in
    SEPARATE statements (reference batches only within one RowsEvent,
    core/parser.go:1175-1240): replaying by seq preserves order."""
    from datetime import datetime, timedelta

    from bingo2sql_spark import schema as S
    from bingo2sql_spark.functions.render import render_multi_row_inserts, render_sql_inline

    def ev(seq, op, key):
        img = (f"r{key}", f"p{key}", "c", "go", f"x{seq}", None)
        t0 = datetime(2024, 1, 1) + timedelta(seconds=seq)
        return (
            seq, "bin.1", seq * 10, "u", seq, t0, 1, "test", "repo_files", op,
            img if op != "insert" else None,
            img if op != "delete" else None,
            None, 1,
        )

    rows = [ev(0, "insert", 0), ev(1, "insert", 1), ev(2, "update", 0),
            ev(3, "insert", 2), ev(4, "insert", 3), ev(5, "delete", 1),
            ev(6, "insert", 4)]
    env = spark.createDataFrame(rows, S.envelope_schema())
    batched = {r["seq"]: r["sql"] for r in render_multi_row_inserts(env, batch_rows=10).collect()}
    # three runs: {0,1}, {3,4}, {6} — the update/delete break them
    assert set(batched) == {0, 3, 6}
    assert batched[0].count("),(") == 1 and batched[3].count("),(") == 1
    assert batched[6].count("),(") == 0
    # inline stream: batches interleave correctly with updates/deletes
    inline = sorted(
        (r["seq"], r["sql"]) for r in render_sql_inline(env, batch_rows=10).collect()
    )
    assert [s for s, _ in inline] == [0, 2, 3, 5, 6]
    assert inline[1][1].startswith("UPDATE ") and inline[3][1].startswith("DELETE ")


def test_render_ddl_emission(spark):
    """op='ddl' events with a statement column emit `USE db;\\n<ddl>;`
    (core/parser.go:2314-2339) instead of silent omission; flashback
    paths never render DDL."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from bingo2sql_spark import schema as S
    from bingo2sql_spark.functions.render import render_sql

    base = spark.createDataFrame(
        [(7, "bin.1", 4, "u", 7, datetime(2024, 1, 1), 1, "meta", "audit_log", "ddl",
          None, None, None, 2)],
        S.envelope_schema(),
    ).withColumn("statement", F.lit("ALTER TABLE `meta`.`audit_log` ADD COLUMN x INT;"))
    out = render_sql(base).collect()
    assert len(out) == 1
    assert out[0]["sql"] == "USE `meta`;\nALTER TABLE `meta`.`audit_log` ADD COLUMN x INT;"
    # without a statement column, ddl rows are filtered (old behavior)
    assert render_sql(base.drop("statement")).count() == 0


def test_render_no_primary_key(spark, small_events):
    """--no-primary-key: key columns dropped from INSERT column list
    (TestRemovePrimary core/parser_test.go:879-902)."""
    from bingo2sql_spark.functions.render import render_sql

    sql = render_sql(
        small_events.filter("op = 'insert'").limit(1), no_primary_key=True
    ).collect()[0]["sql"]
    assert "(`commit`,`lang`,`content`,`branch`)" in sql
    assert "`repo`" not in sql.split("VALUES")[0]


def test_update_to_null_and_back(spark):
    """NULL transitions in minimal updates (TestUpdate2Null
    core/parser_test.go:849-877): value->NULL emits `col`=NULL in SET,
    NULL->value emits the value; WHERE uses IS NULL for NULL keys."""
    from datetime import datetime

    from bingo2sql_spark import schema as S
    from bingo2sql_spark.functions.render import render_sql

    mk = lambda b, a: (  # noqa: E731
        1, "bin.1", 4, "u", 1, datetime(2024, 1, 1), 1, "test", "repo_files",
        "update", b, a, None, 1,
    )
    env = spark.createDataFrame(
        [
            mk(("r", "p", "c1", "go", "x", None), ("r", "p", "c2", None, "x", None)),
            mk(("r", "p", "c2", None, "x", None), ("r", "p", "c3", "py", "x", None)),
        ],
        S.envelope_schema(),
    )
    sqls = [r["sql"] for r in render_sql(env).collect()]
    assert any("`lang`=NULL" in s for s in sqls)
    assert any("`lang`='py'" in s for s in sqls)


def test_stop_time_empty_window(spark, small_events):
    """Empty time window yields zero events (TestStopTime empty-window
    case, core/parser_test.go:612-663)."""
    from bingo2sql_spark.operators import filters as FL

    empty = small_events.filter(
        FL.time_range("2030-01-01 00:00:00", "2030-01-02 00:00:00")
    )
    assert empty.count() == 0


def test_generated_columns_and_key_fallback():
    """T6: generated columns excluded from emitted column lists
    (IsGenerated core/parser.go:49-56, ValidColumns :81-91); T9: keyless
    tables fall back to all-column identity (core/parser.go:1292-1305)."""
    from bingo2sql_spark.schema import ColumnMeta, TableMeta

    t = TableMeta(
        db="test", table="gen", schema_ver=1,
        columns=[
            ColumnMeta("id", is_key=True),
            ColumnMeta("payload"),
            ColumnMeta("derived", generated=True),
        ],
    )
    assert t.valid_columns == ["id", "payload"]
    assert t.key_columns == ["id"]
    keyless = TableMeta(
        db="test", table="nokey", schema_ver=1,
        columns=[ColumnMeta("a"), ColumnMeta("b"), ColumnMeta("g", generated=True)],
    )
    assert keyless.key_columns == ["a", "b"]  # all non-generated columns


def test_render_excludes_generated_columns(spark, small_events):
    """Generated columns never appear in INSERT/UPDATE column lists —
    render on the projected payload (TestFieldGenerated
    core/parser_test.go:787-812)."""
    from bingo2sql_spark.functions.render import render_sql

    sql = render_sql(
        small_events.filter("op='insert'").limit(1),
        payload_cols=["repo", "path", "commit", "lang", "content"],  # branch "generated"
    ).collect()[0]["sql"]
    assert "`branch`" not in sql


def test_expire_snapshots(spark, small_events, tmp_path):
    """Unreferenced snapshot dirs are GC'd; live state unchanged."""
    import os

    from bingo2sql_spark.operators.apply import IcebergLiteTable
    from bingo2sql_spark.pipeline import replay

    t = IcebergLiteTable(str(tmp_path / "t"), n_buckets=4)
    for i, cut in enumerate((400, 800, 1200, 1600)):
        replay(small_events.filter(f"seq < {cut} and seq >= {cut - 400}"), t, batch_id=f"b{i}")
    before = t.state_checksum(spark)
    t.compact(spark)
    res = t.expire_snapshots(keep_last=1)
    assert res["removed"] >= 1
    assert t.state_checksum(spark) == before
    snaps = os.listdir(os.path.join(t.path, "data"))
    assert len(snaps) <= 3


def test_generate_sql_facade(spark, small_events, tmp_path):
    """The reference-flag facade: one call composes filters + rendering
    + decoration + ordered sink."""
    import glob

    from bingo2sql_spark.api import generate_sql

    out = str(tmp_path / "facade")
    generate_sql(
        small_events,
        out,
        tables=["repo_files"],
        sql_type=["insert"],
        max_rows=50,
        minimal_insert=True,
        show_all_time=True,
        show_thread=True,
        show_gtid=False,
    )
    lines = []
    for p in sorted(glob.glob(out + "/part-*")):
        with open(p) as f:
            lines += [ln for ln in f.read().splitlines() if ln]
    assert lines and all(ln.startswith("INSERT INTO `test`.`repo_files`") for ln in lines)
    assert all(" # 2024" in ln and " # thread_id=" in ln for ln in lines)  # every-row time
    assert sum(ln.count("),(") + 1 for ln in lines) == 50  # max_rows honored
    assert any("),(" in ln for ln in lines)  # minimal_insert batched

    # flashback + no_primary_key compose (reference: RemovePrimary gates
    # generateInsertSql in both modes, core/parser.go:1182,1209):
    # inverted DELETE->INSERT statements drop the key columns
    out2 = str(tmp_path / "fb_nopk")
    generate_sql(small_events, out2, flashback=True, no_primary_key=True,
                 show_gtid=False, show_time=False)
    fb_lines = []
    for p in sorted(glob.glob(out2 + "/part-*")):
        with open(p) as f:
            fb_lines += [ln for ln in f.read().splitlines() if ln]
    ins = [ln for ln in fb_lines if ln.startswith("INSERT INTO")]
    assert ins, "flashback of deletes must emit inserts"
    assert all("`repo`" not in ln.split(" VALUES")[0] and "`path`" not in ln.split(" VALUES")[0]
               for ln in ins)


def test_generate_sql_parse_ddl_end_to_end(spark, tmp_path):
    """DDL interleaved in the synthetic stream (ddl_every) renders
    `USE db;\\n<ddl>;` at the correct seq positions among the DML, and
    flashback excludes it (model: TestParseDDL
    core/parser_test.go:551-610)."""
    import glob

    from bingo2sql_spark.api import generate_sql
    from bingo2sql_spark.sources.synth import generate_events

    every = 25
    ev = generate_events(spark, n_keys=40, versions_per_key=4, seed=3, ddl_every=every)
    total = 40 * 4
    n_ddl = (total - 1) // every
    # interleave preserves the total order: seqs stay unique
    assert ev.count() == total + n_ddl
    assert ev.select("seq").distinct().count() == total + n_ddl
    assert ev.filter("op = 'ddl'").count() == n_ddl

    out = str(tmp_path / "ddl_sql")
    generate_sql(ev, out, parse_ddl=True, show_gtid=False, show_time=False)
    lines = []
    for p in sorted(glob.glob(out + "/part-*")):
        with open(p) as f:
            lines += [ln for ln in f.read().splitlines() if ln]
    uses = [i for i, ln in enumerate(lines) if ln == "USE `test`;"]
    assert len(uses) == n_ddl
    for m, i in enumerate(uses):
        # exactly (m+1)*every DML statements precede the m-th DDL
        # (each earlier DDL occupies two lines: USE + ALTER)
        assert i == (m + 1) * every + 2 * m
        assert lines[i + 1] == f"ALTER TABLE `test`.`repo_files` COMMENT 'ddl-{m}';"

    # flashback never renders DDL
    out2 = str(tmp_path / "ddl_fb")
    generate_sql(ev, out2, flashback=True, parse_ddl=True,
                 show_gtid=False, show_time=False)
    fb = []
    for p in sorted(glob.glob(out2 + "/part-*")):
        with open(p) as f:
            fb += f.read().splitlines()
    assert fb and not any("ALTER TABLE" in ln or ln.startswith("USE ") for ln in fb)


def test_multimodal_resize_and_frame_sampling(spark):
    """Resize rewrites typed meta in place; frame sampling fans one
    media row out to duration-derived (media_id, frame_idx) rows — the
    1:N batch shapes a real codec integration will inherit."""
    from bingo2sql_spark.operators.multimodal import (
        resize_images,
        sample_frames,
        synth_media,
    )
    from bingo2sql_spark.sources.synth import generate_events  # noqa: F401

    docs = spark.createDataFrame(
        [(i, "x" * (10 + i), 10 + i) for i in range(20)], ["doc_id", "text", "n_chars"]
    )
    media = synth_media(docs)
    resized = resize_images(media, width=64, height=48)
    assert resized.schema == media.schema
    rows = resized.collect()
    assert all(r["meta"]["width"] == 64 and r["meta"]["height"] == 48 for r in rows)
    assert {r["media_id"] for r in rows} == set(range(20))

    frames = sample_frames(media, every_ms=50, max_frames=4).collect()
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r)
    assert set(by_media) == set(range(20))
    for mid, fr in by_media.items():
        dur = (10 + mid) * 10
        assert len(fr) == min(4, max(1, dur // 50))
        assert sorted(f["frame_idx"] for f in fr) == list(range(len(fr)))
        assert all(f["ts_ms"] == f["frame_idx"] * 50 for f in fr)


def test_render_inline_no_global_window(spark, small_events):
    """render_sql_inline's run-id machinery must keep the data path
    hash-partitioned; single-partition exchanges may only sit above the
    metadata-scale per-block aggregates."""
    from bingo2sql_spark.functions.render import render_sql_inline

    plan = (
        render_sql_inline(small_events)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "hashpartitioning(_blk" in plan
    # no window may partition by _run: a bulk load is ONE run, and a
    # run-partitioned window would sort the whole load in one task
    assert "windowspecdefinition(_run" not in plan
    for frag in plan.split("Exchange SinglePartition")[1:]:
        assert "max_by" in frag or "HashAggregate" in frag or "SortAggregate" in frag


def test_block_carry_two_level_past_2pow16_blocks(spark):
    """The block-carry machinery must stay correct past 2^16 seq-blocks
    (the r2 documented ceiling): the one-level carry windows over every
    block row. block_size=1 turns every row into its own block (70k
    blocks > 2^16); a huge block_size puts everything in ONE block,
    where the within-block window alone is trivially the global
    semantics — the two must agree exactly."""
    from datetime import datetime

    from bingo2sql_spark.functions.render import decorate, with_insert_runs

    n = 70_000
    t0 = datetime(2024, 1, 1)
    rendered = spark.range(n).select(
        F.col("id").alias("seq"),
        F.concat(F.lit("u"), (F.col("id") / 1000).cast("long").cast("string")).alias(
            "gtid_uuid"
        ),
        F.col("id").alias("gno"),
        (F.lit(t0) + F.make_interval(secs=(F.col("id") / 7).cast("long"))).alias("ts"),
        F.lit(1).cast("long").alias("thread_id"),
        F.lit("x").alias("sql"),
    )
    # gno changes per row, so the gtid comment fires on every row; vary
    # the uuid slowly so the SECOND-level comment is the interesting one
    many = decorate(rendered, block_size=1).select("seq", "gtid_comment", "time_comment")
    one = decorate(rendered, block_size=1 << 40).select("seq", "gtid_comment", "time_comment")
    assert many.exceptAll(one).count() == 0 and one.exceptAll(many).count() == 0

    env = rendered.select(
        "seq", "gtid_uuid", "gno", "ts", "thread_id",
        F.lit("test").alias("db"),
        # table flips every 50 rows -> run breaks far apart (carry spans
        # many empty-of-breaks blocks)
        F.when((F.col("seq") / 50).cast("long") % 2 == 0, F.lit("t_a"))
        .otherwise(F.lit("t_b"))
        .alias("table"),
        F.lit("insert").alias("op"),
        F.lit(None)
        .cast(
            "struct<repo:string,path:string,commit:string,"
            "lang:string,content:string,branch:string>"
        )
        .alias("before"),
        F.struct(
            F.lit("r").alias("repo"), F.lit("p").alias("path"),
            F.lit("c").alias("commit"), F.lit("go").alias("lang"),
            F.col("seq").cast("string").alias("content"),
            F.lit(None).cast("string").alias("branch"),
        ).alias("after"),
    )
    runs_many = with_insert_runs(env, block_size=1).select("seq", "_run")
    runs_one = with_insert_runs(env, block_size=1 << 40).select("seq", "_run")
    assert runs_many.exceptAll(runs_one).count() == 0
    assert runs_one.exceptAll(runs_many).count() == 0


def test_insert_batching_one_giant_run_bounded(spark):
    """The canonical CDC bulk load — ONE maximal run of same-table
    INSERTs — must not concentrate on one task (VERDICT r2 #1). With
    seq-arithmetic chunking, every task's load is bounded by block_size
    (run-id windows) / batch_rows (chunk groups), and the output is the
    same statements row-count chunking would produce on dense seq."""
    from datetime import datetime, timedelta

    from bingo2sql_spark import schema as S
    from bingo2sql_spark.functions.render import render_multi_row_inserts, with_insert_runs

    n, blk, batch = 5000, 256, 100
    t0 = datetime(2024, 1, 1)
    env = (
        spark.range(n)
        .select(
            F.col("id").alias("seq"),
            F.lit("bin.1").alias("log_file"),
            (F.col("id") * 10).alias("log_pos"),
            F.lit("u").alias("gtid_uuid"),
            F.col("id").alias("gno"),
            (F.lit(t0) + F.make_interval(secs=F.col("id"))).alias("ts"),
            F.lit(1).cast("long").alias("thread_id"),
            F.lit("test").alias("db"),
            F.lit("repo_files").alias("table"),
            F.lit("insert").alias("op"),
            F.lit(None)
            .cast(
                "struct<repo:string,path:string,commit:string,"
                "lang:string,content:string,branch:string>"
            )
            .alias("before"),
            F.struct(
                F.concat(F.lit("r"), F.col("id")).alias("repo"),
                F.lit("p").alias("path"),
                F.lit("c").alias("commit"),
                F.lit("go").alias("lang"),
                F.concat(F.lit("x"), F.col("id")).alias("content"),
                F.lit(None).cast("string").alias("branch"),
            ).alias("after"),
            F.lit(None).cast("string").alias("statement"),
            F.lit(1).alias("schema_version"),
        )
    )
    out = render_multi_row_inserts(env, batch_rows=batch)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(_run" not in plan
    stmts = {r["seq"]: r["sql"] for r in out.collect()}
    assert set(stmts) == set(range(0, n, batch))
    assert all(s.count("),(") == batch - 1 for s in stmts.values())
    # run-id machinery: max rows per window partition bounded by block_size
    runs = with_insert_runs(env, block_size=blk)
    sizes = (
        runs.withColumn("_p", F.spark_partition_id())
        .groupBy("_p").count().agg(F.max("count")).collect()[0][0]
    )
    assert sizes <= 3 * blk  # hash(_blk) collisions may co-locate a few blocks


def test_pii_scrub_and_repetition_values(spark):
    """Hand-written goldens for the two round-4 text ops (the oracle
    parity alone could hide a doubly-wrong pattern): scrub_pii redacts
    whole spans in pattern order; repetition_ratio is max token
    frequency over token count."""
    from bingo2sql_spark.functions.text import repetition_ratio, scrub_pii

    rows = spark.createDataFrame(
        [
            (1, "mail a.b-c+x@sub.ex-mail.org now"),
            (2, "hosts 10.0.3.77 and 192.168.255.1 up"),
            (3, "both bob@x.co at 8.8.8.8"),
            (4, "none here at all"),
            (5, "spam spam spam ham"),
            (6, "all distinct tokens here"),
        ],
        ["id", "t"],
    ).select("id", scrub_pii("t").alias("s"), repetition_ratio("t").alias("r"))
    got = {r["id"]: (r["s"], r["r"]) for r in rows.collect()}
    assert got[1][0] == "mail <EMAIL> now"
    assert got[2][0] == "hosts <IP> and <IP> up"
    assert got[3][0] == "both <EMAIL> at <IP>"
    assert got[4][0] == "none here at all"
    assert got[5][1] == 0.75  # 3x spam / 4 tokens
    assert got[6][1] == 0.25  # all distinct


def test_pii_patterns_match_python_re(spark):
    """The PII regexes must behave identically in Spark (Java regex) and
    Python re (RE2-compatible subset) — tricky inputs: boundary digits,
    over-long octet runs, emails with IPs as domains, adjacent spans,
    unicode neighbors."""
    import re as _re

    from bingo2sql_spark.functions.text import PII_EMAIL, PII_IPV4, scrub_pii

    cases = [
        "a@b.co",
        "x1.2.3.4y",            # \b: digits adjacent to letters
        "1.2.3.4.5",            # five octets
        "255.255.255.255 end",
        "u@1.2.3.4",            # ip-as-domain: NOT an email (no alpha tld)
        "a.b@c-d.e-f.org!",
        "mail:a@b.io,c@d.io",   # adjacent spans with separators
        "v 10.0.0.1/24 cidr",
        "ümlaut a@b.de ok",
        "12.34.56.789",         # 3-digit octet (pattern allows; both must agree)
        "no pii at all",
        "dots...4.4.4.4...",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)], ["i", "t"])
    got = {r["i"]: r["s"] for r in df.select("i", scrub_pii("t").alias("s")).collect()}
    for i, s in enumerate(cases):
        want = _re.sub(PII_IPV4, "<IP>", _re.sub(PII_EMAIL, "<EMAIL>", s))
        assert got[i] == want, (s, got[i], want)


def test_duplicate_span_stats_hand_golden(spark):
    """Span dedup semantics: an exact twin duplicates every span
    (ratio 1.0); a doc sharing only its first window with another is
    flagged on exactly that span; short docs contribute one whole-doc
    span; a unique doc reads 0.0."""
    from bingo2sql_spark.operators.dedup import duplicate_span_stats

    w = " ".join(f"w{i}" for i in range(8))       # 8 tokens = one window
    other = " ".join(f"z{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (1, w + " " + other),   # spans: [w0..w7], [w4..z3], [z0..z7]
            (2, w + " " + other),   # exact twin of 1
            (3, w),                 # shares span [w0..w7] only
            (4, "totally different words here"),  # short, unique
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["n_spans"], r["dup_spans"], r["dup_ratio"])
        for r in duplicate_span_stats(docs, window=8, stride=4).collect()
    }
    assert out[1] == (3, 3, 1.0) and out[2] == (3, 3, 1.0)
    assert out[3] == (1, 1, 1.0)   # its single span exists in docs 1/2
    assert out[4] == (1, 0, 0.0)
    # validation
    import pytest as _p

    with _p.raises(ValueError):
        duplicate_span_stats(docs, window=0)


def test_corpus_stats_by_source_hand_golden(spark):
    """Per-source rollup: exact-dup docs counted corpus-wide but
    attributed per source; exact interpolated percentiles."""
    from bingo2sql_spark.operators.stats import corpus_stats_by_source

    t10 = " ".join(f"a{i}" for i in range(10))
    t20 = " ".join(f"b{i}" for i in range(20))
    t30 = " ".join(f"c{i}" for i in range(30))
    docs = spark.createDataFrame(
        [
            (1, t10, "s1"), (2, t20, "s1"), (3, t30, "s1"),
            (4, t10, "s2"),  # cross-source exact dup of doc 1
            (5, "unique words entirely", "s2"),
        ],
        ["doc_id", "text", "source"],
    )
    rows = {r["source"]: r for r in corpus_stats_by_source(docs).collect()}
    assert rows["s1"]["n_docs"] == 3 and rows["s1"]["dup_docs"] == 1
    assert rows["s2"]["n_docs"] == 2 and rows["s2"]["dup_docs"] == 1
    # exact percentile_cont over [10, 20, 30]: p50 = 20, p90 = 28
    assert rows["s1"]["p50_tokens"] == 20.0 and rows["s1"]["p90_tokens"] == 28.0
