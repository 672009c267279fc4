"""S1/S2 binary binlog file decode: golden bytes, encoder round-trips,
type matrix, checksum handling, Spark reader, end-to-end replay parity.

The format under test is the publicly documented MySQL binlog v4 row
format (the byte layout the reference's go-mysql dependency decodes,
consumed by core/parseFile.go:16-179). The golden fixture below is
HAND-ASSEMBLED field by field — independent of BinlogWriter — so the
encoder and decoder cannot drift together unnoticed.
"""

from __future__ import annotations

import json
import struct

import pytest

from bingo2sql_spark.sources import binlog_binary as B


def _names():
    return {"test.acct": ["id", "name", "bal", "at"]}


def _basic_file(checksum=True):
    w = B.BinlogWriter(checksum=checksum)
    w.gtid("3e11fa47-71ca-11e1-9e33-c80aa9429562", 5, ts=1700000000)
    w.query("BEGIN", db="test", thread_id=42, ts=1700000000)
    types = [B.T_LONG, B.T_VARCHAR, B.T_NEWDECIMAL, B.T_DATETIME2]
    meta = [0, 300, (12 << 8) | 4, 0]
    w.table_map("test", "acct", types, meta, ts=1700000000)
    w.rows("test", "acct", "insert", types, meta,
           [[1, "alice", "-1234.5678", "2024-01-02 03:04:05"],
            [2, None, "0.0001", "1999-12-31 23:59:59"]], ts=1700000000)
    w.rows("test", "acct", "update", types, meta,
           [([1, "alice", "-1234.5678", "2024-01-02 03:04:05"],
             [1, "bob", "99999999.9999", "2024-01-02 03:04:06"])],
           ts=1700000001)
    w.rows("test", "acct", "delete", types, meta,
           [[2, None, "0.0001", "1999-12-31 23:59:59"]], ts=1700000002)
    w.query("ALTER TABLE acct ADD COLUMN note varchar(10)", db="test",
            thread_id=42, ts=1700000003)
    w.xid(7, ts=1700000003)
    return w.bytes()


def test_golden_hand_assembled_write_rows():
    """A minimal unchecksummed file assembled byte-by-byte from the
    documented layout (NOT via BinlogWriter): FDE, TABLE_MAP for
    (tiny, varchar(10)), WRITE_ROWS v2 with (7, 'hi') and (NULL row
    value in column 2)."""
    H = 19

    def header(ts, etype, body_len, next_pos):
        return struct.pack("<IBIIIH", ts, etype, 1, H + body_len, next_pos, 0)

    out = bytearray(b"\xfebin")
    # FDE: version 4, server 5.5.62 (pre-5.6.1 -> NO checksum byte)
    fde_body = (
        struct.pack("<H", 4) + b"5.5.62".ljust(50, b"\x00")
        + struct.pack("<I", 0) + bytes([H]) + bytes(27)
    )
    out += header(1000, 15, len(fde_body), len(out) + H + len(fde_body))
    out += fde_body
    # TABLE_MAP: table id 5, db "d", table "t", cols tiny + varchar(10)
    tm_body = (
        (5).to_bytes(6, "little") + struct.pack("<H", 1)
        + bytes([1]) + b"d" + b"\x00"
        + bytes([1]) + b"t" + b"\x00"
        + bytes([2])                       # column count (lenenc < 0xfb)
        + bytes([B.T_TINY, B.T_VARCHAR])   # types
        + bytes([2])                       # metadata length
        + struct.pack("<H", 10)            # varchar max len
        + bytes([0])                       # null bitmap
    )
    out += header(1000, 19, len(tm_body), len(out) + H + len(tm_body))
    out += tm_body
    # WRITE_ROWS v2: table id 5, flags 0, extra_len 2, width 2,
    # present 0b11; row1: nulls 0b00, tiny 7, "hi"; row2: nulls 0b10
    # (col2 NULL), tiny -3
    wr_body = (
        (5).to_bytes(6, "little") + struct.pack("<H", 0)
        + struct.pack("<H", 2)
        + bytes([2]) + bytes([0b11])
        + bytes([0b00]) + struct.pack("<b", 7) + bytes([2]) + b"hi"
        + bytes([0b10]) + struct.pack("<b", -3)
    )
    wr_at = len(out)
    out += header(1001, 30, len(wr_body), len(out) + H + len(wr_body))
    out += wr_body

    evs = list(B.parse_binlog_bytes(bytes(out), log_file="bin.000001",
                                    names_for={"d.t": ["a", "b"]}))
    assert [e["op"] for e in evs] == ["insert", "insert"]
    assert json.loads(evs[0]["after_json"]) == {"a": 7, "b": "hi"}
    assert json.loads(evs[1]["after_json"]) == {"a": -3, "b": None}
    assert evs[0]["log_pos"] == wr_at and evs[1]["log_pos"] == wr_at
    assert evs[0]["seq"] == (1 << 44) | (wr_at << 12)
    assert evs[1]["seq"] == evs[0]["seq"] + 1
    assert evs[0]["db"] == "d" and evs[0]["table"] == "t"


@pytest.mark.parametrize("checksum", [True, False])
def test_roundtrip_ops_and_values(checksum):
    evs = list(B.parse_binlog_bytes(_basic_file(checksum),
                                    log_file="mysql-bin.000003",
                                    names_for=_names()))
    assert [e["op"] for e in evs] == ["insert", "insert", "update", "delete", "ddl"]
    a0 = json.loads(evs[0]["after_json"])
    assert a0 == {"id": 1, "name": "alice", "bal": "-1234.5678",
                  "at": "2024-01-02 03:04:05"}
    assert json.loads(evs[1]["after_json"])["name"] is None
    up = json.loads(evs[2]["after_json"])
    assert up["name"] == "bob" and up["bal"] == "99999999.9999"
    assert evs[2]["before_json"] == evs[0]["after_json"]
    assert evs[3]["after_json"] is None and evs[3]["before_json"] is not None
    assert evs[4]["statement"].startswith("ALTER TABLE")
    # envelope metadata: gtid, thread id, file ordinal in seq, ts
    assert all(e["gtid_uuid"] == "3e11fa47-71ca-11e1-9e33-c80aa9429562"
               and e["gno"] == 5 for e in evs)
    assert all(e["thread_id"] == 42 for e in evs)
    seqs = [e["seq"] for e in evs]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)
    assert all(s >> 44 == 3 for s in seqs)  # mysql-bin.000003
    assert evs[0]["ts"].year == 2023  # epoch 1700000000


def test_type_matrix_roundtrip():
    """Every decoder-supported type through one insert."""
    w = B.BinlogWriter(checksum=True)
    w.query("BEGIN", db="test", thread_id=1, ts=10)
    types = [B.T_TINY, B.T_SHORT, B.T_INT24, B.T_LONG, B.T_LONGLONG,
             B.T_FLOAT, B.T_DOUBLE, B.T_YEAR, B.T_VARCHAR, B.T_BLOB,
             B.T_DATE, B.T_DATETIME2]
    meta = [0, 0, 0, 0, 0, 4, 8, 0, 40, 2, 0, 0]
    names = [f"c{i}" for i in range(len(types))]
    w.table_map("test", "wide", types, meta, ts=10)
    row = [-128, -32768, -8388608, -2147483648, -(2**63), 1.5, 2.25,
           2024, "héllo", "blobtext", "2024-02-29", "2024-02-29 12:00:01"]
    w.rows("test", "wide", "insert", types, meta, [row], ts=10)
    evs = list(B.parse_binlog_bytes(w.bytes(), log_file="b.1",
                                    names_for={"test.wide": names}))
    got = json.loads(evs[0]["after_json"])
    assert got == {"c0": -128, "c1": -32768, "c2": -8388608,
                   "c3": -2147483648, "c4": -(2**63), "c5": 1.5,
                   "c6": 2.25, "c7": 2024, "c8": "héllo",
                   "c9": "blobtext", "c10": "2024-02-29",
                   "c11": "2024-02-29 12:00:01"}


def test_unsigned_integers_decode_unsigned(spark, tmp_path):
    """T7: the binlog stores no signedness, so UNSIGNED comes from the
    registry — a schema file's ColumnMeta reaches the parser and an
    integer with the sign bit set decodes as its unsigned value at every
    width (processValue core/parser.go:1322-1360), exactly past 2^53 and
    up to MaxUint64; a signed column of the same table stays signed. The
    CLI's `--input-format binlog -t schema.sql` renders the same values."""
    import os

    from bingo2sql_spark import ddl as DL
    from bingo2sql_spark.__main__ import main

    ddl = (
        "CREATE TABLE test.u (t tinyint unsigned, s smallint unsigned, "
        "m mediumint unsigned, i int unsigned, b bigint unsigned, "
        "sb bigint, PRIMARY KEY (b));"
    )
    cols = DL.parse_schema_text(ddl)["test.u"].columns
    types = [B.T_TINY, B.T_SHORT, B.T_INT24, B.T_LONG, B.T_LONGLONG, B.T_LONGLONG]
    meta = [0] * len(types)
    bits = [8, 16, 24, 32, 64]
    rows = [  # unsigned values; the writer stores their two's complement
        [200, 65535, 1 << 23, 1 << 31, (1 << 64) - 1],
        [255, 1 << 15, 16777215, 4294967295, 1 << 63],
        [5, 0, 7, (1 << 31) + 1, (1 << 53) + 1],
        [None, None, None, None, (1 << 63) - 1],
    ]
    w = B.BinlogWriter(checksum=True)
    w.gtid("3e11fa47-71ca-11e1-9e33-c80aa9429562", 1, ts=100)
    w.table_map("test", "u", types, meta, ts=100)
    w.rows("test", "u", "insert", types, meta,
           [[None if v is None else v - ((1 << n) if v >> (n - 1) else 0)
             for v, n in zip(r, bits)] + [-1] for r in rows], ts=100)
    evs = list(B.parse_binlog_bytes(w.bytes(), log_file="b.1",
                                    names_for={"test.u": cols}))
    names = ["t", "s", "m", "i", "b"]
    assert [json.loads(e["after_json"]) for e in evs] == [
        {**dict(zip(names, r)), "sb": -1} for r in rows
    ]

    bdir = tmp_path / "bl"
    os.makedirs(bdir)
    (bdir / "mysql-bin.000001").write_bytes(w.bytes())
    schema_file = tmp_path / "schema.sql"
    schema_file.write_text(ddl)
    out = str(tmp_path / "out")
    assert main([
        "--input", str(bdir), "--input-format", "binlog",
        "--table-schema", str(schema_file), "-o", out, "-t", "u",
    ]) == 0
    body = "".join(
        open(os.path.join(out, f)).read()
        for f in sorted(os.listdir(out)) if f.startswith("part-")
    )
    assert "VALUES('200','65535','8388608','2147483648','18446744073709551615','-1')" in body
    assert "VALUES(NULL,NULL,NULL,NULL,'9223372036854775807','-1')" in body


def test_minimal_image_update_mask():
    """binlog_row_image=MINIMAL: a narrowed after-image bitmap becomes
    the envelope's changed_cols mask (T3/MINIMAL merge input)."""
    w = B.BinlogWriter(checksum=True)
    types = [B.T_LONG, B.T_VARCHAR, B.T_VARCHAR]
    meta = [0, 40, 40]
    w.table_map("d", "t", types, meta, ts=1)
    w.rows("d", "t", "update", types, meta,
           [([7, "old", "keep"], [7, "new", None])], ts=1,
           present_after=[True, True, False])
    evs = list(B.parse_binlog_bytes(w.bytes(), log_file="b.1",
                                    names_for={"d.t": ["k", "x", "y"]}))
    (e,) = evs
    assert e["changed_cols"] == ["k", "x"]
    assert json.loads(e["after_json"]) == {"k": 7, "x": "new"}  # y absent
    assert json.loads(e["before_json"]) == {"k": 7, "x": "old", "y": "keep"}


def test_unknown_table_positional_names_and_errors():
    w = B.BinlogWriter(checksum=True)
    types, meta = [B.T_LONG], [0]
    w.table_map("d", "mystery", types, meta, ts=1)
    w.rows("d", "mystery", "insert", types, meta, [[9]], ts=1)
    evs = list(B.parse_binlog_bytes(w.bytes(), log_file="b.1"))
    assert json.loads(evs[0]["after_json"]) == {"@1": 9}

    with pytest.raises(B.BinlogFormatError, match="magic"):
        list(B.parse_binlog_bytes(b"nope", log_file="b.1"))
    data = _basic_file()
    with pytest.raises(B.BinlogFormatError, match="truncated"):
        list(B.parse_binlog_bytes(data[:-10], log_file="b.1"))


def test_newdecimal_digits():
    """Packed-decimal edge shapes: negative, zero, scale-only,
    9-digit group boundaries — rendered exactly, like the reference's
    decimal.Decimal.String() (trailing fraction zeros trimmed)."""
    cases = [
        ((20 << 8) | 10, "1234567890.0987654321", "1234567890.0987654321"),
        ((20 << 8) | 10, "-1234567890.0987654321", "-1234567890.0987654321"),
        ((5 << 8) | 0, "99999", "99999"),
        ((5 << 8) | 5, "0.00001", "0.00001"),
        ((9 << 8) | 0, "123456789", "123456789"),
        ((18 << 8) | 9, "999999999.999999999", "999999999.999999999"),
        ((10 << 8) | 2, "0.00", "0"),
        ((10 << 8) | 2, "-0.50", "-0.5"),
        ((12 << 8) | 4, "-1234.5000", "-1234.5"),
    ]
    for meta, s, want in cases:
        enc = B.BinlogWriter._encode_value(s, B.T_NEWDECIMAL, meta)
        got, off = B._decode_newdecimal(enc, 0, meta >> 8, meta & 0xFF)
        assert off == len(enc)
        assert float(got) == float(s), (s, got)
        assert got == want, (s, got)


def test_spark_reader_and_replay_parity(spark, tmp_path):
    """binaryFile -> mapInArrow decode -> decode_events -> replay
    lands the same final state as replaying the equivalent typed
    events directly — the binlog file is just another landing format
    in front of the same engine."""
    import os

    from bingo2sql_spark.operators.apply import IcebergLiteTable
    from bingo2sql_spark.pipeline import replay
    from bingo2sql_spark.sources.binlog_binary import binlog_raw_events
    from bingo2sql_spark.sources.decode import decode_events

    types = [B.T_VARCHAR, B.T_VARCHAR, B.T_VARCHAR, B.T_VARCHAR]
    meta = [120, 600, 160, 600]
    names = {"test.repo_files": ["repo", "path", "commit", "content"]}
    bdir = tmp_path / "binlogs"
    os.makedirs(bdir)
    # two rotated files; second file updates/deletes rows from the first
    w1 = B.BinlogWriter(checksum=True)
    w1.gtid("3e11fa47-71ca-11e1-9e33-c80aa9429562", 1, ts=100)
    w1.table_map("test", "repo_files", types, meta, ts=100)
    w1.rows("test", "repo_files", "insert", types, meta,
            [[f"r{i % 3}", f"f{i}", "c1", f"v{i}"] for i in range(20)], ts=100)
    w1.xid(1, ts=100)
    (bdir / "mysql-bin.000001").write_bytes(w1.bytes())
    w2 = B.BinlogWriter(checksum=True)
    w2.gtid("3e11fa47-71ca-11e1-9e33-c80aa9429562", 2, ts=200)
    w2.table_map("test", "repo_files", types, meta, ts=200)
    w2.rows("test", "repo_files", "update", types, meta,
            [([f"r{i % 3}", f"f{i}", "c1", f"v{i}"],
              [f"r{i % 3}", f"f{i}", "c2", f"w{i}"]) for i in range(0, 20, 2)],
            ts=200)
    w2.rows("test", "repo_files", "delete", types, meta,
            [[f"r{i % 3}", f"f{i}", "c1", f"v{i}"] for i in range(1, 20, 4)],
            ts=200)
    w2.xid(2, ts=200)
    (bdir / "mysql-bin.000002").write_bytes(w2.bytes())

    raw = binlog_raw_events(spark, str(bdir), table_schemas=names)
    ev = decode_events(raw.drop("statement"))
    t = IcebergLiteTable(str(tmp_path / "tgt"), n_buckets=4)
    replay(ev, t, batch_id="b1", tables=["repo_files"])
    got = {(r["repo"], r["path"]): (r["commit"], r["content"])
           for r in t.read(spark).collect()}
    want = {}
    for i in range(20):
        want[(f"r{i % 3}", f"f{i}")] = ("c1", f"v{i}")
    for i in range(0, 20, 2):
        want[(f"r{i % 3}", f"f{i}")] = ("c2", f"w{i}")
    for i in range(1, 20, 4):
        want.pop((f"r{i % 3}", f"f{i}"))
    assert got == want and len(want) == 20 - 5
    # file/pos gates (F2) work on the decoded stream: only file 2's rows
    from bingo2sql_spark.operators.filters import pos_range
    f2 = ev.filter(pos_range(start_file="mysql-bin.000002"))
    assert set(f2.select("op").distinct().toPandas()["op"]) == {"update", "delete"}


def test_cli_binlog_input_format(spark, tmp_path):
    """`python -m bingo2sql_spark --input-format binlog` — the
    reference's primary front-end shape (parse a binlog, emit SQL):
    raw binlog v4 bytes + a CREATE TABLE schema file produce the
    ordered SQL artifact, DDL included via --parse-ddl."""
    import os

    from bingo2sql_spark.__main__ import main

    types = [B.T_LONG, B.T_VARCHAR]
    meta = [0, 120]
    w = B.BinlogWriter(checksum=True)
    w.gtid("3e11fa47-71ca-11e1-9e33-c80aa9429562", 1, ts=100)
    w.query("BEGIN", db="test", thread_id=9, ts=100)
    w.table_map("test", "acct", types, meta, ts=100)
    w.rows("test", "acct", "insert", types, meta,
           [[1, "alice"], [2, "bob"]], ts=100)
    w.rows("test", "acct", "update", types, meta,
           [([1, "alice"], [1, "carol"])], ts=101)
    w.query("ALTER TABLE acct ADD COLUMN note varchar(10)", db="test",
            thread_id=9, ts=102)
    w.xid(1, ts=102)
    bdir = tmp_path / "bl"
    os.makedirs(bdir)
    (bdir / "mysql-bin.000001").write_bytes(w.bytes())
    schema_file = tmp_path / "schema.sql"
    schema_file.write_text(
        "CREATE TABLE test.acct (id int, name varchar(30), PRIMARY KEY (id));"
    )
    out = str(tmp_path / "out")
    rc = main([
        "--input", str(bdir), "--input-format", "binlog",
        "--table-schema", str(schema_file),
        "-o", out, "-t", "acct", "--parse-ddl",
    ])
    assert rc == 0
    body = "".join(
        open(os.path.join(out, f)).read()
        for f in sorted(os.listdir(out)) if f.startswith("part-")
    )
    assert "INSERT INTO `test`.`acct`" in body
    assert "`name`='carol'" in body.replace(" ", "") or "carol" in body
    assert "ALTER TABLE acct ADD COLUMN note" in body
    assert body.index("alice") < body.index("carol")  # log order preserved


def test_cli_stats_binlog_input_format(spark, tmp_path, capsys):
    """`python -m bingo2sql_spark stats --input-format binlog` counts
    the DML of raw binlog files per table, like the reference's stats
    front-end reads binlogs (cmd/stats.go:30-54)."""
    import os

    from bingo2sql_spark.__main__ import main

    bdir = tmp_path / "bl"
    os.makedirs(bdir)
    (bdir / "mysql-bin.000001").write_bytes(_basic_file())
    rc = main(["stats", "--input", str(bdir), "--input-format", "binlog"])
    assert rc == 0
    lines = [ln.split() for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    assert lines[0][:6] == ["db", "table", "inserts", "updates", "deletes", "total"]
    # 2 inserts, 1 update, 1 delete; the ALTER is not DML
    assert lines[1][:6] == ["test", "acct", "2", "1", "1", "4"]
    assert lines[-1][:5] == ["TOTAL", "2", "1", "1", "4"]


def test_streaming_binlog_tail_with_ddl(spark, tmp_path):
    """S1 over rotating binlog files: a streaming ingest tails a
    directory of real binlog v4 bytes, applies a mid-stream ALTER
    carried as a Query event (table_meta-driven evolution), and lands the same
    final state as a batch replay of the same log — checkpoint resume
    included (second file arrives after the first drain)."""
    import os

    from bingo2sql_spark import ddl as DL
    from bingo2sql_spark.operators.apply import IcebergLiteTable
    from bingo2sql_spark.streaming.pipeline import start_ingest

    types = [B.T_VARCHAR, B.T_VARCHAR, B.T_VARCHAR, B.T_VARCHAR]
    meta = [120, 600, 160, 600]
    names = {"test.repo_files": ["repo", "path", "commit", "content"]}
    reg = DL.parse_schema_text(
        "CREATE TABLE test.repo_files (repo varchar(30), path varchar(150), "
        "commit varchar(40), content text, PRIMARY KEY (repo, path))"
    )
    meta_t = reg["test.repo_files"]
    bdir = tmp_path / "bl"
    os.makedirs(bdir)
    w1 = B.BinlogWriter(checksum=True)
    w1.table_map("test", "repo_files", types, meta, ts=100)
    w1.rows("test", "repo_files", "insert", types, meta,
            [["r1", f"f{i}", "c1", f"v{i}"] for i in range(10)], ts=100)
    w1.xid(1, ts=100)
    (bdir / "mysql-bin.000001").write_bytes(w1.bytes())

    table = IcebergLiteTable(str(tmp_path / "t"), n_buckets=4)
    ckpt = str(tmp_path / "ckpt")
    q = start_ingest(spark, str(bdir), table, ckpt, source_format="binlog",
                     table_schemas=names, table_meta=meta_t,
                     tables=["repo_files"])
    q.awaitTermination(180)
    assert table.read(spark).count() == 10

    # file 2 rotates in: an ALTER plus updates under the new column
    w2 = B.BinlogWriter(checksum=True)
    w2.query("ALTER TABLE repo_files ADD COLUMN stars varchar(16)",
             db="test", thread_id=3, ts=200)
    types2 = types + [B.T_VARCHAR]
    meta2 = meta + [64]
    names2 = {"test.repo_files":
              ["repo", "path", "commit", "content", "stars"]}
    w2.table_map("test", "repo_files", types2, meta2, ts=201)
    w2.rows("test", "repo_files", "update", types2, meta2,
            [(["r1", "f0", "c1", "v0", None],
              ["r1", "f0", "c2", "w0", "5"])], ts=201)
    w2.xid(2, ts=201)
    (bdir / "mysql-bin.000002").write_bytes(w2.bytes())

    q2 = start_ingest(spark, str(bdir), table, ckpt, source_format="binlog",
                      table_schemas=names2, table_meta=meta_t,
                      tables=["repo_files"])
    q2.awaitTermination(180)
    got = {r["path"]: (r["commit"], r["content"], r["stars"])
           for r in table.read(spark).collect()}
    assert got["f0"] == ("c2", "w0", "5")
    assert got["f3"] == ("c1", "v3", None)
    assert len(got) == 10


def test_corrupt_rows_event_raises_not_garbage():
    """Truncated/corrupt value bytes inside a rows event raise
    BinlogFormatError (overrun check) instead of emitting garbage rows
    — the reference hard-fails on unparseable events too."""
    w = B.BinlogWriter(checksum=False)
    types, meta = [B.T_LONG, B.T_VARCHAR], [0, 40]
    w.table_map("d", "t", types, meta, ts=1)
    w.rows("d", "t", "insert", types, meta, [[1, "hello"]], ts=1)
    data = bytearray(w.bytes())
    # find the rows event and inflate the varchar's length prefix so the
    # value decode runs past the body
    off = 4
    while off < len(data):
        size = int.from_bytes(data[off + 9 : off + 13], "little")
        if data[off + 4] == B.WRITE_ROWS_EVENT:
            idx = bytes(data).index(b"hello", off) - 1
            data[idx] = 250  # claims 250 bytes; only 5 exist
            break
        off += size
    with pytest.raises(B.BinlogFormatError, match="overran"):
        list(B.parse_binlog_bytes(bytes(data), log_file="b.1",
                                  names_for={"d.t": ["k", "v"]}))


def test_legacy_temporal_types():
    """Pre-5.6.4 TIMESTAMP(7)/DATETIME(12)/TIME(11) — the decimal-packed
    layouts 5.1/5.5 masters write — round-trip; negative TIME included."""
    w = B.BinlogWriter(checksum=True)
    types = [B.T_TIMESTAMP, B.T_DATETIME, B.T_TIME]
    meta = [0, 0, 0]
    w.table_map("d", "old", types, meta, ts=1)
    w.rows("d", "old", "insert", types, meta,
           [["2009-05-17 12:34:56", "1999-12-31 23:59:59", "838:59:58"],
            ["1970-01-01 00:00:01", "2024-02-29 00:00:00", "-01:02:03"]],
           ts=1)
    evs = list(B.parse_binlog_bytes(w.bytes(), log_file="b.1",
                                    names_for={"d.old": ["ts", "dt", "t"]}))
    got = [json.loads(e["after_json"]) for e in evs]
    assert got[0] == {"ts": "2009-05-17 12:34:56",
                      "dt": "1999-12-31 23:59:59", "t": "838:59:58"}
    assert got[1] == {"ts": "1970-01-01 00:00:01",
                      "dt": "2024-02-29 00:00:00", "t": "-01:02:03"}


def test_enum_set_two_byte_roundtrip():
    """ADVICE r8: ENUM metadata byte1 IS the storage byte count — a
    >255-value ENUM packs 2 bytes, and deriving the width any other way
    misaligns every later column. SET likewise uses maxlen bytes."""
    w = B.BinlogWriter(checksum=True)
    w.query("BEGIN", db="test", thread_id=1, ts=10)
    types = [B.T_STRING, B.T_STRING, B.T_LONGLONG]
    # meta = (real_type << 8) | pack_bytes: a 2-byte ENUM, a 1-byte SET
    meta = [(B.T_ENUM << 8) | 2, (B.T_SET << 8) | 1, 0]
    names = ["e", "s", "n"]
    w.table_map("test", "et", types, meta, ts=10)
    w.rows("test", "et", "insert", types, meta, [[300, 0b101, 7]], ts=10)
    evs = list(B.parse_binlog_bytes(w.bytes(), log_file="b.1",
                                    names_for={"test.et": names}))
    got = json.loads(evs[0]["after_json"])
    # a misread 1-byte ENUM would shift the SET and corrupt n
    assert got == {"e": 300, "s": 0b101, "n": 7}


def test_seq_bit_budget_guards():
    """ADVICE r8: ordinal/offset/row-index fields of the packed seq
    raise loudly instead of bleeding into adjacent bit fields."""
    p = B.BinlogEventParser(log_file="bin.000001")
    with pytest.raises(B.BinlogFormatError, match="19-bit"):
        p.set_log_file("bin.9999999")  # ordinal >= 2^19
    with pytest.raises(B.BinlogFormatError, match="32-bit"):
        p.feed(b"\x00" * 19, start_off=1 << 32)


def test_crc32_mismatch_raises():
    """ROADMAP #5a: a checksummed file's per-event CRC32 is verified —
    one flipped bit inside a VARCHAR value of a rows event raises
    instead of decoding to a silently wrong value ("iello")."""
    w = B.BinlogWriter(checksum=True)
    types, meta = [B.T_LONG, B.T_VARCHAR], [0, 40]
    w.table_map("d", "t", types, meta, ts=1)
    w.rows("d", "t", "insert", types, meta, [[1, "hello world"]], ts=1)
    data = bytearray(w.bytes())
    names = {"d.t": ["k", "v"]}
    (ok,) = B.parse_binlog_bytes(bytes(data), log_file="b.1", names_for=names)
    assert json.loads(ok["after_json"]) == {"k": 1, "v": "hello world"}
    data[bytes(data).index(b"hello world")] ^= 0x01  # 'h' -> 'i'
    with pytest.raises(B.BinlogFormatError, match="CRC32 mismatch"):
        list(B.parse_binlog_bytes(bytes(data), log_file="b.1", names_for=names))
    # an unchecksummed file has no CRC to check: the same flip decodes
    w = B.BinlogWriter(checksum=False)
    w.table_map("d", "t", types, meta, ts=1)
    w.rows("d", "t", "insert", types, meta, [[1, "hello world"]], ts=1)
    plain = bytearray(w.bytes())
    plain[bytes(plain).index(b"hello world")] ^= 0x01
    (ev,) = B.parse_binlog_bytes(bytes(plain), log_file="b.1", names_for=names)
    assert json.loads(ev["after_json"])["v"] == "iello world"


def _type_matrix_file() -> tuple[bytes, dict]:
    """One checksummed file over the decoder's type matrix plus the
    envelope edge cases: NULL values, DDL rows, an anonymous GTID (NULL
    gtid pair), a MINIMAL update (changed_cols), a table missing from
    the registry (positional @N names) and second-resolution ts."""
    w = B.BinlogWriter(checksum=True)
    types = [B.T_TINY, B.T_SHORT, B.T_INT24, B.T_LONG, B.T_LONGLONG,
             B.T_FLOAT, B.T_DOUBLE, B.T_YEAR, B.T_VARCHAR, B.T_BLOB,
             B.T_DATE, B.T_DATETIME2, B.T_NEWDECIMAL, B.T_STRING,
             B.T_STRING, B.T_STRING, B.T_TIMESTAMP, B.T_DATETIME, B.T_TIME,
             B.T_VARCHAR]
    meta = [0, 0, 0, 0, 0, 4, 8, 0, 40, 2, 0, 0, (12 << 8) | 4,
            (B.T_ENUM << 8) | 2, (B.T_SET << 8) | 1, (B.T_STRING << 8) | 20,
            0, 0, 0, 300]
    names = [f"c{i}" for i in range(len(types))]
    row = [-128, -32768, -8388608, -2147483648, -(2**63), 1.5, 2.25, 2024,
           "héllo 'q' \"dq\" \\ \n", "blobtext", "2024-02-29",
           "2024-02-29 12:00:01", "-1234.5678", 300, 0b101, "chr",
           "2009-05-17 12:34:56", "1999-12-31 23:59:59", "-01:02:03",
           "x" * 280]
    nulls = [None if i % 2 else v for i, v in enumerate(row)]
    w.gtid("3e11fa47-71ca-11e1-9e33-c80aa9429562", 9, ts=1700000000)
    w.query("BEGIN", db="test", thread_id=3, ts=1700000000)
    w.table_map("test", "wide", types, meta, ts=1700000000)
    w.rows("test", "wide", "insert", types, meta, [row, nulls], ts=1700000000)
    w.rows("test", "wide", "update", types, meta, [(row, nulls)], ts=1700000001,
           present_after=[i < 3 for i in range(len(types))])
    w.xid(1, ts=1700000001)
    # anonymous GTID: same layout as a GTID event, no sid/gno carried on
    w._append(1700000002, B.ANONYMOUS_GTID_EVENT, bytes(25))
    w.query("ALTER TABLE wide ADD COLUMN c20 int", db="test", thread_id=4,
            ts=1700000002)
    w.table_map("test", "unregistered", [B.T_LONG, B.T_VARCHAR], [0, 40],
                ts=1700000003)
    w.rows("test", "unregistered", "delete", [B.T_LONG, B.T_VARCHAR], [0, 40],
           [[5, "gone"]], ts=1700000003)
    w.xid(2, ts=1700000003)
    return w.bytes(), {"test.wide": names}


def test_spark_reader_equals_pure_parse(spark, tmp_path):
    """The mapInArrow reader returns, field for field, exactly the
    envelopes parse_binlog_bytes yields for the same file."""
    from bingo2sql_spark.sources.binlog_binary import binlog_raw_events

    data, names = _type_matrix_file()
    path = tmp_path / "mysql-bin.000004"
    path.write_bytes(data)
    want = list(B.parse_binlog_bytes(data, log_file=path.name, names_for=names))
    assert [e["op"] for e in want] == ["insert", "insert", "update", "ddl", "delete"]
    assert want[2]["changed_cols"] == ["c0", "c1", "c2"]
    assert want[3]["gtid_uuid"] is None and want[3]["gno"] is None
    assert json.loads(want[4]["before_json"]) == {"@1": 5, "@2": "gone"}
    assert json.loads(want[0]["after_json"])["c8"] == "héllo 'q' \"dq\" \\ \n"

    got = sorted(
        binlog_raw_events(spark, str(path), names).collect(), key=lambda r: r["seq"]
    )
    assert len(got) == len(want)
    for g, w in zip(got, want):
        g = g.asDict()
        assert set(g) == set(w)
        for k, v in w.items():
            if k == "ts":
                # Spark hands back the instant as a naive local datetime
                assert g[k].timestamp() == v.timestamp(), (k, g[k], v)
            else:
                assert g[k] == v, (k, g[k], v)


def test_spark_reader_bounds_arrow_batches(spark, tmp_path):
    """A file with more envelope rows than
    spark.sql.execution.arrow.maxRecordsPerBatch leaves the parser in
    several bounded Arrow batches, and the reader still returns exactly
    the envelopes parse_binlog_bytes yields, in order."""
    from bingo2sql_spark.sources.binlog_binary import decode_binlog_df

    types, meta = [B.T_LONG, B.T_VARCHAR], [0, 120]
    w = B.BinlogWriter(checksum=True)
    w.table_map("test", "acct", types, meta, ts=100)
    for i in range(4):
        w.rows("test", "acct", "insert", types, meta,
               [[10 * i + k, f"n{k}"] for k in range(6)], ts=100 + i)
    w.query("ALTER TABLE acct ADD COLUMN note varchar(10)", db="test", ts=105)
    w.xid(1, ts=105)
    path = tmp_path / "mysql-bin.000001"
    path.write_bytes(w.bytes())
    names = {"test.acct": ["id", "name"]}
    want = list(B.parse_binlog_bytes(path.read_bytes(), log_file=path.name, names_for=names))
    assert len(want) == 25

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = decode_binlog_df(
            spark.read.format("binaryFile").load(str(path)), names
        ).collect()
    finally:
        spark.conf.set(key, old)
    assert [r["seq"] for r in got] == [e["seq"] for e in want]
    for g, e in zip(got, want):
        assert g.asDict() | {"ts": e["ts"]} == e
        assert g["ts"].timestamp() == e["ts"].timestamp()
