"""S1/S2 upgraded — parse REAL MySQL binlog *file bytes* (binlog v4,
row format) into the engine's raw-event envelope, with no MySQL client
library and no server.

The reference consumes binlogs through a replication-protocol tailer
(core/parser.go:330-520) or a local file parse (core/parseFile.go:16-179),
both delegating the byte-level decode to its go-mysql dependency. The
network half is environment-bound here (no MySQL server in the box),
but the FILE half is not: this module implements the publicly
documented binlog v4 event format directly —

- 4-byte magic, 19-byte common event header;
- FORMAT_DESCRIPTION_EVENT (incl. CRC32 checksum-algorithm detection,
  MySQL >= 5.6.1 — every later event's 4-byte CRC32 tail is verified,
  then dropped);
- GTID_LOG_EVENT (sid uuid + gno), QUERY_EVENT (thread id, schema,
  statement — BEGIN/COMMIT filtered, DDL surfaced as op='ddl'),
  XID_EVENT, TABLE_MAP_EVENT (column types + per-type metadata),
  WRITE/UPDATE/DELETE_ROWS v1+v2 (present-column bitmaps, per-image
  null bitmaps, per-type value decode);
- value decode for the row-format type matrix the reference handles
  (core/parser.go:1322-1360,1736-1874): all int widths, float/double,
  VARCHAR/STRING/ENUM/SET/BIT, BLOB/TEXT, DATE/DATETIME2/TIMESTAMP2/
  TIME2/YEAR, NEWDECIMAL (packed BCD), and binary JSONB via the
  existing sources.codecs.decode_jsonb.

Spark-first shape: binlog FILES are the natural parallel unit (the
server rotates them at max_binlog_size), so `binlog_raw_events` reads
a directory with `spark.read.format("binaryFile")` and decodes each
file inside one `mapInArrow` task that yields the file's envelope rows
as one Arrow record batch — a 1000-file backlog decodes on 1000 cores
with zero shuffles. The output is the engine's RAW_EVENT envelope
(+ `statement`), so everything downstream — `decode_events`, filters,
replay/flashback, rendering — is unchanged.

Row images decode through a decoder built once per (TABLE_MAP,
present-column bitmap): the present columns, their JSON keys and a
token reader per column type are resolved up front, so a row pays one
reader call per non-NULL value, no per-value type dispatch, and no
intermediate dict — the image's JSON text is written directly.

Column NAMES are not stored in rows events (only in the schema), so a
registry maps (db, table) -> ordered columns — same contract as the
reference, which loads the schema per table before parsing
(core/parser.go:1626-1686). Unknown tables fall back to mysqlbinlog's
positional @1..@N naming. Signedness is also absent from the binlog
(T7): a registry column is a bare name (signed) or a `schema.ColumnMeta`
whose `unsigned` flag makes that column's integers decode UNSIGNED —
the reader choice is part of the per-(TABLE_MAP, bitmap) decoder, so it
costs nothing per row.

A deterministic ENCODER (`encode_binlog`) lives here too: the sandbox
has no mysqld to produce fixtures, so tests and benchmarks synthesize
real-format binlog bytes the same way the reference's CI synthesizes
binlogs by running DML against a throwaway server (SURVEY.md §5). The
golden-byte tests in tests/test_binlog_binary.py pin the format
against hand-assembled hex, so encoder and decoder cannot drift
together unnoticed.
"""

from __future__ import annotations

import datetime as _dt
import json
import struct
import zlib
from collections.abc import Iterator

BINLOG_MAGIC = b"\xfebin"

# event type codes (public binlog v4)
QUERY_EVENT = 2
STOP_EVENT = 3
ROTATE_EVENT = 4
FORMAT_DESCRIPTION_EVENT = 15
XID_EVENT = 16
TABLE_MAP_EVENT = 19
WRITE_ROWS_EVENT_V1 = 23
UPDATE_ROWS_EVENT_V1 = 24
DELETE_ROWS_EVENT_V1 = 25
WRITE_ROWS_EVENT = 30
UPDATE_ROWS_EVENT = 31
DELETE_ROWS_EVENT = 32
GTID_LOG_EVENT = 33
ANONYMOUS_GTID_EVENT = 34
PREVIOUS_GTIDS_EVENT = 35

_ROWS_WRITE = {WRITE_ROWS_EVENT, WRITE_ROWS_EVENT_V1}
_ROWS_UPDATE = {UPDATE_ROWS_EVENT, UPDATE_ROWS_EVENT_V1}
_ROWS_DELETE = {DELETE_ROWS_EVENT, DELETE_ROWS_EVENT_V1}
_ROWS_V2 = {WRITE_ROWS_EVENT, UPDATE_ROWS_EVENT, DELETE_ROWS_EVENT}

# MySQL column type codes
T_DECIMAL = 0
T_TINY = 1
T_SHORT = 2
T_LONG = 3
T_FLOAT = 4
T_DOUBLE = 5
T_NULL = 6
T_TIMESTAMP = 7
T_LONGLONG = 8
T_INT24 = 9
T_DATE = 10
T_TIME = 11
T_DATETIME = 12
T_YEAR = 13
T_VARCHAR = 15
T_BIT = 16
T_TIMESTAMP2 = 17
T_DATETIME2 = 18
T_TIME2 = 19
T_JSON = 245
T_NEWDECIMAL = 246
T_ENUM = 247
T_SET = 248
T_TINY_BLOB = 249
T_MEDIUM_BLOB = 250
T_LONG_BLOB = 251
T_BLOB = 252
T_VAR_STRING = 253
T_STRING = 254
T_GEOMETRY = 255

_HEADER_LEN = 19


class BinlogFormatError(ValueError):
    """Raised on malformed binlog bytes: bad magic, a truncated event, a
    CRC32 mismatch in a checksummed file, a row decode that overruns its
    event, or an unknown required structure. The Spark reader has no
    skip mode: the error fails the task that decodes the file, like the
    reference's hard failure on unparseable events."""


def _u(data: bytes, off: int, n: int) -> int:
    return int.from_bytes(data[off : off + n], "little")


def _s(data: bytes, off: int, n: int) -> int:
    return int.from_bytes(data[off : off + n], "little", signed=True)


def _be(data: bytes, off: int, n: int) -> int:
    return int.from_bytes(data[off : off + n], "big")


def _lenenc(data: bytes, off: int) -> tuple[int, int]:
    """MySQL length-encoded integer -> (value, next offset)."""
    first = data[off]
    if first < 0xFB:
        return first, off + 1
    if first == 0xFC:
        return _u(data, off + 1, 2), off + 3
    if first == 0xFD:
        return _u(data, off + 1, 3), off + 4
    if first == 0xFE:
        return _u(data, off + 1, 8), off + 9
    raise BinlogFormatError(f"bad length-encoded int prefix 0x{first:02x}")


# ---------------------------------------------------------------------------
# table map: column types + metadata


class _TableMap:
    __slots__ = ("db", "table", "types", "meta", "col_count", "decoders")

    def __init__(self, db: str, table: str, types: list[int], meta: list[int]):
        self.db = db
        self.table = table
        self.types = types
        self.meta = meta
        self.col_count = len(types)
        #: (present bitmap, event width) -> _ImageDecoder
        self.decoders: dict = {}


def _parse_table_map(body: bytes) -> tuple[int, _TableMap]:
    table_id = _u(body, 0, 6)
    off = 8  # 6-byte table id + 2-byte flags
    db_len = body[off]
    db = body[off + 1 : off + 1 + db_len].decode("utf-8")
    off += 1 + db_len + 1  # trailing NUL
    tbl_len = body[off]
    tbl = body[off + 1 : off + 1 + tbl_len].decode("utf-8")
    off += 1 + tbl_len + 1
    col_count, off = _lenenc(body, off)
    types = list(body[off : off + col_count])
    off += col_count
    meta_len, off = _lenenc(body, off)
    meta_bytes = body[off : off + meta_len]
    moff = 0
    meta: list[int] = []
    for t in types:
        if t in (T_VARCHAR, T_VAR_STRING):
            meta.append(_u(meta_bytes, moff, 2))
            moff += 2
        elif t == T_STRING:
            # two bytes: (real_type, length) packed per the documented
            # scheme — see _string_meta for the unpack
            meta.append((meta_bytes[moff] << 8) + meta_bytes[moff + 1])
            moff += 2
        elif t == T_NEWDECIMAL:
            meta.append((meta_bytes[moff] << 8) + meta_bytes[moff + 1])
            moff += 2
        elif t == T_BIT:
            bits = meta_bytes[moff] + meta_bytes[moff + 1] * 8
            meta.append(bits)
            moff += 2
        elif t in (T_BLOB, T_GEOMETRY, T_JSON):
            meta.append(meta_bytes[moff])
            moff += 1
        elif t in (T_FLOAT, T_DOUBLE):
            meta.append(meta_bytes[moff])
            moff += 1
        elif t in (T_TIMESTAMP2, T_DATETIME2, T_TIME2):
            meta.append(meta_bytes[moff])  # fractional-second precision
            moff += 1
        else:
            meta.append(0)
    return table_id, _TableMap(db, tbl, types, meta)


def _string_meta(meta: int) -> tuple[int, int]:
    """STRING(254) metadata -> (real_type, max_length). ENUM/SET hide
    their real type in byte0; CHAR(>255 bytes) smuggles high length
    bits into byte0's 0x30 mask (documented binlog quirk)."""
    byte0, byte1 = meta >> 8, meta & 0xFF
    if byte0 in (T_ENUM, T_SET):
        return byte0, byte1
    if (byte0 & 0x30) != 0x30:
        return T_STRING, byte1 + (((byte0 & 0x30) ^ 0x30) << 4)
    return T_STRING, byte1


# ---------------------------------------------------------------------------
# value decode

_DIG2BYTES = [0, 1, 1, 2, 2, 3, 3, 4, 4, 4]


def _decimal_digits(
    data: bytes, off: int, precision: int, scale: int
) -> tuple[bool, str, str, int]:
    """The one reader of MySQL's packed decimal (decimal2bin, used by
    NEWDECIMAL columns and JSONB opaque decimals): groups of 9 digits
    per 4 big-endian bytes, leftover digits per _DIG2BYTES; sign = top
    bit of the first byte (set = positive), negative values stored
    ones-complemented. Returns (positive, integer digits with no
    leading zeros — "0" when none —, fraction digits padded to
    `scale`, next offset). Fewer bytes than (precision, scale) needs
    raise BinlogFormatError; each caller formats the digits."""
    intg = precision - scale
    intg0, intg_rem = divmod(intg, 9)
    frac0, frac_rem = divmod(scale, 9)
    nbytes = intg0 * 4 + _DIG2BYTES[intg_rem] + frac0 * 4 + _DIG2BYTES[frac_rem]
    raw = bytearray(data[off : off + nbytes])
    if len(raw) < nbytes:
        raise BinlogFormatError("truncated DECIMAL")
    positive = bool(raw[0] & 0x80)
    raw[0] ^= 0x80
    if not positive:
        for i in range(len(raw)):
            raw[i] ^= 0xFF
    pos = 0
    int_digits = ""
    if intg_rem:
        n = _DIG2BYTES[intg_rem]
        int_digits += str(_be(raw, pos, n))
        pos += n
    for _ in range(intg0):
        int_digits += str(_be(raw, pos, 4)).zfill(9)
        pos += 4
    frac_digits = ""
    for _ in range(frac0):
        frac_digits += str(_be(raw, pos, 4)).zfill(9)
        pos += 4
    if frac_rem:
        frac_digits += str(_be(raw, pos, _DIG2BYTES[frac_rem])).zfill(frac_rem)
    return positive, int_digits.lstrip("0") or "0", frac_digits, off + nbytes


def _decode_newdecimal(data: bytes, off: int, precision: int, scale: int):
    """NEWDECIMAL column value, rendered like the reference's
    decimal.Decimal.String(): trailing fraction zeros and a bare dot
    are trimmed (a DECIMAL(12,6) -45363.640000 renders "-45363.64",
    0.00 renders "0"), and zero carries no sign."""
    positive, int_digits, frac_digits, end = _decimal_digits(data, off, precision, scale)
    frac_digits = frac_digits.rstrip("0")
    out = int_digits + ("." + frac_digits if frac_digits else "")
    if not positive and out != "0":
        out = "-" + out
    return out, end


def _frac_bytes(fsp: int) -> int:
    return (fsp + 1) // 2


def _decode_frac(data: bytes, off: int, fsp: int) -> tuple[str, int]:
    n = _frac_bytes(fsp)
    if n == 0:
        return "", off
    micros = _be(data, off, n) * (10 ** (6 - 2 * n))
    return f".{micros:06d}"[: 1 + fsp], off + n


_I8 = struct.Struct("<b").unpack_from
_I16 = struct.Struct("<h").unpack_from
_I32 = struct.Struct("<i").unpack_from
_I64 = struct.Struct("<q").unpack_from
_F32 = struct.Struct("<f").unpack_from
_F64 = struct.Struct("<d").unpack_from
_U8 = struct.Struct("<B").unpack_from
_U16 = struct.Struct("<H").unpack_from
_U32 = struct.Struct("<I").unpack_from
_U64 = struct.Struct("<Q").unpack_from

#: integer column type -> (width, signed reader, unsigned reader)
_INT_READERS = {
    T_TINY: (1, _I8, _U8),
    T_SHORT: (2, _I16, _U16),
    T_LONG: (4, _I32, _U32),
    T_LONGLONG: (8, _I64, _U64),
}

#: JSON text of one value, exactly as json.dumps writes it inside a dict
_json_scalar = json.JSONEncoder().encode
_json_str = json.encoder.encode_basestring_ascii


def _text_token(len_bytes: int):
    """Length-prefixed UTF-8 text (1- or 2-byte little-endian length)."""
    if len_bytes == 1:
        def read(data, off):
            n = data[off]
            off += 1
            return _json_str(data[off : off + n].decode("utf-8", "replace")), off + n
    else:
        def read(data, off):
            n = _U16(data, off)[0]
            off += 2
            return _json_str(data[off : off + n].decode("utf-8", "replace")), off + n
    return read


def _int_token(unpack, width: int):
    def read(data, off):
        return str(unpack(data, off)[0]), off + width

    return read


def _encoded(read, encode):
    """A value reader `read(data, off) -> (value, off)` as a token reader."""
    def read_token(data, off):
        v, off = read(data, off)
        return encode(v), off

    return read_token


def _token_reader(ctype: int, meta: int, unsigned: bool = False):
    """The type dispatch for one column, resolved once: returns
    `read(data, off) -> (JSON text of the value, next offset)`, the text
    `json.dumps` writes for the decoded value inside the image dict.
    `unsigned` (the registry's UNSIGNED flag) picks the unsigned
    integer readers (processValue core/parser.go:1322-1360)."""
    if ctype in _INT_READERS:
        width, signed_read, unsigned_read = _INT_READERS[ctype]
        return _int_token(unsigned_read if unsigned else signed_read, width)
    if ctype == T_INT24:
        read24 = _u if unsigned else _s
        return lambda data, off: (str(read24(data, off, 3)), off + 3)
    if ctype == T_FLOAT:
        return _encoded(lambda data, off: (_F32(data, off)[0], off + 4), _json_scalar)
    if ctype == T_DOUBLE:
        return _encoded(lambda data, off: (_F64(data, off)[0], off + 8), _json_scalar)
    if ctype == T_YEAR:
        return lambda data, off: (str(1900 + data[off] if data[off] else 0), off + 1)
    if ctype in (T_VARCHAR, T_VAR_STRING):
        return _text_token(1 if meta < 256 else 2)
    if ctype == T_STRING:
        real, maxlen = _string_meta(meta)
        if real in (T_ENUM, T_SET):
            # metadata byte1 IS the storage byte count (1 or 2) for
            # ENUM — an ENUM with > 255 values has byte1 == 2 (ADVICE
            # r8: deriving it from a value-count comparison misread a
            # 2-byte index as 1 byte and misaligned the whole row); SET
            # stores its bitmask in maxlen bytes the same way
            return lambda data, off: (str(_u(data, off, maxlen)), off + maxlen)
        return _text_token(1 if maxlen < 256 else 2)
    if ctype in (T_BLOB, T_GEOMETRY):
        # TEXT-ONLY assumption at this boundary (documented per ADVICE
        # r8): the JSON envelope stores blob bytes as UTF-8 text, so a
        # non-UTF8 BINARY blob's unmappable bytes become U+FFFD in the
        # stored image. TEXT/JSON-bearing blobs (the reference's
        # replay/flashback payloads) round-trip exactly; true binary
        # payloads need a bytes-preserving envelope (e.g. base64 text
        # written by the tailer) rather than this text image.
        def read_blob(data, off):
            n, off = _u(data, off, meta), off + meta
            return _json_str(data[off : off + n].decode("utf-8", "replace")), off + n

        return read_blob
    if ctype == T_JSON:
        from bingo2sql_spark.sources.codecs import decode_jsonb

        def read_json(data, off):
            n, off = _u(data, off, meta), off + meta
            return decode_jsonb(bytes(data[off : off + n])), off + n

        return _encoded(read_json, _json_scalar)
    if ctype == T_BIT:
        nbytes = (meta + 7) // 8
        return lambda data, off: (str(_be(data, off, nbytes)), off + nbytes)
    if ctype == T_DATE:
        def read_date(data, off):
            v = _u(data, off, 3)
            y, m, d = v >> 9, (v >> 5) & 0x0F, v & 0x1F
            return f"{y:04d}-{m:02d}-{d:02d}", off + 3

        return _encoded(read_date, _json_str)
    if ctype == T_DATETIME2:
        def read_datetime2(data, off):
            intpart = _be(data, off, 5) - 0x8000000000
            off += 5
            ym = (intpart >> 22) & 0x1FFFF
            y, mo = divmod(ym, 13)
            d = (intpart >> 17) & 0x1F
            h = (intpart >> 12) & 0x1F
            mi = (intpart >> 6) & 0x3F
            s = intpart & 0x3F
            frac, off = _decode_frac(data, off, meta)
            return f"{y:04d}-{mo:02d}-{d:02d} {h:02d}:{mi:02d}:{s:02d}{frac}", off

        return _encoded(read_datetime2, _json_str)
    if ctype == T_TIMESTAMP2:
        def read_timestamp2(data, off):
            secs = _be(data, off, 4)
            off += 4
            frac, off = _decode_frac(data, off, meta)
            ts = _dt.datetime.fromtimestamp(secs, tz=_dt.timezone.utc)
            return ts.strftime("%Y-%m-%d %H:%M:%S") + frac, off

        return _encoded(read_timestamp2, _json_str)
    if ctype == T_TIME2:
        def read_time2(data, off):
            v = _be(data, off, 3) - 0x800000
            off += 3
            sign = "-" if v < 0 else ""
            v = abs(v)
            h = (v >> 12) & 0x3FF
            mi = (v >> 6) & 0x3F
            s = v & 0x3F
            frac, off = _decode_frac(data, off, meta)
            return f"{sign}{h:02d}:{mi:02d}:{s:02d}{frac}", off

        return _encoded(read_time2, _json_str)
    if ctype == T_NEWDECIMAL:
        precision, scale = meta >> 8, meta & 0xFF
        return _encoded(
            lambda data, off: _decode_newdecimal(data, off, precision, scale), _json_str
        )
    # pre-5.6.4 legacy temporals (servers upgraded in place still write
    # them; mysql-bin from 5.1/5.5 masters is full of them)
    if ctype == T_TIMESTAMP:
        def read_timestamp(data, off):
            secs = _u(data, off, 4)
            ts = _dt.datetime.fromtimestamp(secs, tz=_dt.timezone.utc)
            return ts.strftime("%Y-%m-%d %H:%M:%S"), off + 4

        return _encoded(read_timestamp, _json_str)
    if ctype == T_DATETIME:
        def read_datetime(data, off):
            v = _u(data, off, 8)  # decimal-packed YYYYMMDDHHMMSS
            d, t = divmod(v, 1_000_000)
            y, md = divmod(d, 10_000)
            mo, dd = divmod(md, 100)
            h, ms = divmod(t, 10_000)
            mi, s = divmod(ms, 100)
            return f"{y:04d}-{mo:02d}-{dd:02d} {h:02d}:{mi:02d}:{s:02d}", off + 8

        return _encoded(read_datetime, _json_str)
    if ctype == T_TIME:
        def read_time(data, off):
            v = _s(data, off, 3)  # decimal-packed (H*10000 + M*100 + S), signed
            sign = "-" if v < 0 else ""
            v = abs(v)
            h, ms = divmod(v, 10_000)
            mi, s = divmod(ms, 100)
            return f"{sign}{h:02d}:{mi:02d}:{s:02d}", off + 3

        return _encoded(read_time, _json_str)

    def unsupported(data, off):
        # raised on the first non-NULL value, not when the map arrives
        raise BinlogFormatError(f"unsupported column type {ctype}")

    return unsupported


def _bits(bitmap: bytes, n: int) -> list[int]:
    """Indexes of the set bits among the first n of a little-endian bitmap."""
    return [i for i in range(min(n, len(bitmap) * 8)) if bitmap[i >> 3] >> (i & 7) & 1]


class _ImageDecoder:
    """Row-image decoder for one (TABLE_MAP, present-column bitmap):
    the present columns, their JSON keys and a token reader per column
    type are worked out once, so a row pays only its null bitmap and one
    reader call per non-NULL value. An image decodes straight to the
    JSON text `json.dumps` gives the {name: value} dict of the image."""

    __slots__ = ("keys", "readers", "null_len")

    def __init__(
        self, tm: _TableMap, present: bytes, width: int,
        names: list[str], unsigned: frozenset[int],
    ):
        cols = _bits(present, tm.col_count)
        self.keys = [
            ("{" if j == 0 else ", ")
            + _json_str(names[i] if i < len(names) else f"@{i + 1}")
            + ": "
            for j, i in enumerate(cols)
        ]
        self.readers = [
            _token_reader(tm.types[i], tm.meta[i], i in unsigned) for i in cols
        ]
        # the null bitmap spans every present column of the event width
        self.null_len = (len(_bits(present, width)) + 7) // 8

    def decode(self, body: bytes, off: int) -> tuple[str, int]:
        """One row image at `off` (null bitmap, then the non-NULL
        values) -> (JSON object text, next offset)."""
        end = off + self.null_len
        nulls = int.from_bytes(body[off:end], "little")
        off = end
        parts = []
        if nulls:
            for j, (key, read) in enumerate(zip(self.keys, self.readers)):
                if nulls >> j & 1:
                    parts.append(key + "null")
                else:
                    tok, off = read(body, off)
                    parts.append(key + tok)
        else:
            for key, read in zip(self.keys, self.readers):
                tok, off = read(body, off)
                parts.append(key + tok)
        return ("".join(parts) + "}" if parts else "{}"), off


def _column_spec(cols) -> tuple[list[str], frozenset[int]]:
    """One registry entry -> (column names, indexes of UNSIGNED columns).
    An entry lists the table's columns in order, each a bare name or a
    `schema.ColumnMeta` (anything with `name` and `unsigned`)."""
    names = [getattr(c, "name", c) for c in cols]
    unsigned = frozenset(i for i, c in enumerate(cols) if getattr(c, "unsigned", False))
    return names, unsigned


# ---------------------------------------------------------------------------
# event stream


class BinlogEventParser:
    """Stateful binlog v4 EVENT decoder — feed one whole event
    (header + body) at a time, get envelope rows back. Shared by the
    file scan (parse_binlog_bytes slices a file into events) and the
    replication-protocol client (repl_client feeds each network packet's
    event payload), exactly the split the reference's tailer library
    has between its file and syncer front-ends.

    State carried across events: checksum algorithm (from the FDE),
    table-id -> TABLE_MAP cache, current GTID pair, current thread id
    (from the transaction's BEGIN Query event), and the current log
    file name/ordinal (updated by ROTATE events on the network path).

    seq is `(file_ordinal << 44) | (event start offset << 12) | row
    index` — globally monotone across a rotated file sequence (binlog
    files are capped at 1 GiB < 2^32 offsets; 4096 rows per event; 2^19
    files); the ordinal defaults to the numeric suffix of the file name
    (mysql-bin.000007 -> 7). log_pos is the event START offset,
    mysqlbinlog's "# at N" convention.

    `names_for` is the column registry: "db.table" (or "table") -> the
    table's columns in order, each a name or a `schema.ColumnMeta`
    whose `unsigned` flag selects unsigned integer decoding (T7)."""

    def __init__(
        self,
        log_file: str = "binlog",
        file_ordinal: int | None = None,
        names_for: dict[str, list] | None = None,
        schema_ver: int = 2,
    ):
        self.columns_for = {
            k.lower(): _column_spec(v) for k, v in (names_for or {}).items()
        }
        self.schema_ver = schema_ver
        self.checksummed = False
        self.table_maps: dict[int, _TableMap] = {}
        # TABLE_MAP body (past the table id) -> parsed map, so the row
        # decoders built for one map serve every later identical map
        self._map_cache: dict[bytes, _TableMap] = {}
        self.gtid_uuid: str | None = None
        self.gno: int | None = None
        self.thread_id: int | None = None
        self.set_log_file(log_file, file_ordinal)

    @staticmethod
    def _ordinal(log_file: str) -> int:
        digits = "".join(ch for ch in log_file.rsplit(".", 1)[-1] if ch.isdigit())
        return int(digits) if digits else 0

    def set_log_file(self, log_file: str, file_ordinal: int | None = None) -> None:
        self.log_file = log_file
        self.file_ordinal = (
            self._ordinal(log_file) if file_ordinal is None else file_ordinal
        )
        # bit-budget guard (ADVICE r8): seq packs ordinal<<44 into a
        # signed 64-bit long — an ordinal past 2^19-1 would flip the
        # sign / bleed into adjacent fields and silently corrupt global
        # ordering, so refuse loudly instead
        if not 0 <= self.file_ordinal < (1 << 19):
            raise BinlogFormatError(
                f"binlog file ordinal {self.file_ordinal} exceeds the 19-bit "
                f"seq budget (file {log_file!r}); pass an explicit remapped "
                f"file_ordinal"
            )
        self._seq_base = self.file_ordinal << 44

    def feed(self, whole: bytes, start_off: int) -> list[dict]:
        """Decode ONE event (19-byte header + body [+ CRC]) starting at
        file offset `start_off`; returns the envelope rows it implies
        (possibly none — metadata events mutate parser state only)."""
        ts = _u(whole, 0, 4)
        etype = whole[4]
        body = whole[_HEADER_LEN:]
        if self.checksummed and etype != FORMAT_DESCRIPTION_EVENT:
            if len(whole) < _HEADER_LEN + 4 or zlib.crc32(
                memoryview(whole)[:-4]
            ) != _u(whole, len(whole) - 4, 4):
                raise BinlogFormatError(
                    f"CRC32 mismatch in event at offset {start_off} "
                    f"(type {etype}, file {self.log_file!r})"
                )
            body = body[:-4]
        ev_ts = _dt.datetime.fromtimestamp(ts, tz=_dt.timezone.utc)
        # bit-budget guard (ADVICE r8): an event offset past 2^32-1
        # (a >4 GiB file: one transaction larger than max_binlog_size)
        # would bleed into the ordinal field of the packed seq
        if start_off >= (1 << 32):
            raise BinlogFormatError(
                f"event offset {start_off} exceeds the 32-bit seq budget "
                f"(file {self.log_file!r} larger than 4 GiB)"
            )

        if etype == FORMAT_DESCRIPTION_EVENT:
            if _u(body, 0, 2) != 4:
                raise BinlogFormatError("only binlog format v4 is supported")
            server_version = body[2:52].split(b"\x00")[0].decode("utf-8", "replace")
            ver = tuple(
                int("".join(ch for ch in part if ch.isdigit()) or 0)
                for part in (server_version.split(".") + ["0", "0"])[:3]
            )
            if ver >= (5, 6, 1):
                # FDE tail: checksum_alg byte, plus the FDE's own 4-byte
                # CRC32 when alg=CRC32. The alg byte's POSITION depends
                # on whether the CRC follows, so disambiguate by
                # verifying the CRC itself (both a 0 alg byte and a CRC
                # byte can read 0).
                tail_crc = _u(whole, len(whole) - 4, 4)
                self.checksummed = (
                    len(whole) > 23
                    and zlib.crc32(bytes(whole[:-4])) == tail_crc
                    and body[-5] == 1
                )
            return []
        if etype == GTID_LOG_EVENT:
            sid = body[1:17]
            self.gtid_uuid = (
                f"{sid[0:4].hex()}-{sid[4:6].hex()}-{sid[6:8].hex()}-"
                f"{sid[8:10].hex()}-{sid[10:16].hex()}"
            )
            self.gno = _u(body, 17, 8)
            return []
        if etype == ANONYMOUS_GTID_EVENT:
            self.gtid_uuid, self.gno = None, None
            return []
        if etype == ROTATE_EVENT:
            # post-header: 8-byte next position, then next file name —
            # the network stream's file switch (file scans never cross
            # files, so this only matters on the tail path)
            next_file = body[8:].decode("utf-8", "replace").rstrip("\x00")
            if next_file:
                self.set_log_file(next_file)
            return []
        if etype == QUERY_EVENT:
            self.thread_id = _u(body, 0, 4)
            db_len = body[8]
            status_len = _u(body, 11, 2)
            off = 13 + status_len
            db = body[off : off + db_len].decode("utf-8", "replace")
            off += db_len + 1
            sql = body[off:].decode("utf-8", "replace")
            stripped = sql.strip().rstrip(";").upper()
            if stripped in ("BEGIN", "COMMIT", "ROLLBACK"):
                return []
            # attribute the DDL to its table so -t/-d gates see it (the
            # reference parses DDL inline for the same reason,
            # core/parser.go:2314-2339); unqualified names inherit the
            # event's default db
            import re as _re

            tbl = ""
            m = _re.match(
                r"(?is)\s*(?:ALTER|CREATE|DROP|TRUNCATE)\s+"
                r"(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+(?:NOT\s+)?EXISTS\s+)?"
                r"([`\"\w$.]+)",
                sql,
            )
            if m:
                name = m.group(1).replace("`", "").replace('"', "")
                if "." in name:
                    db, _, tbl = name.rpartition(".")
                else:
                    tbl = name
            return [{
                "seq": self._seq_base | (start_off << 12),
                "log_file": self.log_file,
                "log_pos": start_off,
                "gtid_uuid": self.gtid_uuid,
                "gno": self.gno,
                "ts": ev_ts,
                "thread_id": self.thread_id,
                "db": db,
                "table": tbl,
                "op": "ddl",
                "before_json": None,
                "after_json": None,
                "changed_cols": None,
                "schema_ver": self.schema_ver,
                "statement": sql,
            }]
        if etype == TABLE_MAP_EVENT:
            key = bytes(body[6:])
            tm = self._map_cache.get(key)
            if tm is None:
                tm = self._map_cache[key] = _parse_table_map(body)[1]
            self.table_maps[_u(body, 0, 6)] = tm
            return []
        if etype in _ROWS_WRITE | _ROWS_UPDATE | _ROWS_DELETE:
            return self._rows_event(etype, body, start_off, ev_ts)
        # XID / PREVIOUS_GTIDS / STOP / heartbeats: positional or txn
        # metadata with no envelope row (the gtid pair persists until
        # the next GTID event, matching server behavior)
        return []

    def _columns(self, tm: _TableMap) -> tuple[list[str], frozenset[int]]:
        """Registry (names, unsigned indexes) of the mapped table; no
        names means positional @1..@N names (mysqlbinlog's convention for
        unknown tables) and signed integers."""
        return (
            self.columns_for.get(f"{tm.db}.{tm.table}".lower())
            or self.columns_for.get(tm.table.lower())  # unqualified registry key
            or ([], frozenset())
        )

    def _decoder(self, tm: _TableMap, present: bytes, width: int) -> _ImageDecoder:
        dec = tm.decoders.get((present, width))
        if dec is None:
            dec = _ImageDecoder(tm, present, width, *self._columns(tm))
            tm.decoders[(present, width)] = dec
        return dec

    def _rows_event(self, etype, body, start_off, ev_ts) -> list[dict]:
        table_id = _u(body, 0, 6)
        off = 8  # table id + flags
        if etype in _ROWS_V2:
            extra_len = _u(body, off, 2)
            off += extra_len  # includes its own two bytes
        tm = self.table_maps.get(table_id)
        if tm is None:
            raise BinlogFormatError(
                f"rows event at {start_off} references unknown table id "
                f"{table_id} (no preceding TABLE_MAP_EVENT)"
            )
        width, off = _lenenc(body, off)
        bm_len = (width + 7) // 8
        present1 = bytes(body[off : off + bm_len])
        off += bm_len
        first = self._decoder(tm, present1, width)
        second = None
        changed = None
        if etype in _ROWS_UPDATE:
            present2 = bytes(body[off : off + bm_len])
            off += bm_len
            second = self._decoder(tm, present2, width)
            cols = _bits(present2, width)
            if len(cols) < width:
                # binlog_row_image=MINIMAL: the after image carries
                # only the changed columns — surface the mask the
                # MINIMAL merge path consumes
                names = self._columns(tm)[0]
                changed = [names[i] if i < len(names) else f"@{i + 1}" for i in cols]
        op = (
            "insert" if etype in _ROWS_WRITE
            else "delete" if etype in _ROWS_DELETE
            else "update"
        )
        head = {
            "log_file": self.log_file,
            "log_pos": start_off,
            "gtid_uuid": self.gtid_uuid,
            "gno": self.gno,
            "ts": ev_ts,
            "thread_id": self.thread_id,
            "db": tm.db,
            "table": tm.table,
            "op": op,
        }
        seq0 = self._seq_base | (start_off << 12)
        out: list[dict] = []
        end = len(body)
        try:
            while off < end:
                before = after = None
                if op == "insert":
                    after, off = first.decode(body, off)
                else:
                    before, off = first.decode(body, off)
                    if second is not None:
                        after, off = second.decode(body, off)
                row_idx = len(out)
                if row_idx >= (1 << 12):
                    # the encoder caps rows-events at 4095 rows, but a
                    # server with a raised binlog_row_event_max_size can
                    # exceed it — refuse instead of bleeding into the
                    # offset field of the packed seq (ADVICE r8)
                    raise BinlogFormatError(
                        f"rows event at offset {start_off} carries >= 4096 rows "
                        f"— exceeds the 12-bit row-index seq budget"
                    )
                out.append({
                    # one seq per ROW: rows of a multi-row event order by
                    # their index after the event's start offset
                    "seq": seq0 | row_idx,
                    **head,
                    "before_json": before,
                    "after_json": after,
                    "changed_cols": None if changed is None else list(changed),
                    "schema_ver": self.schema_ver,
                    "statement": None,
                })
        except (IndexError, struct.error) as e:
            raise BinlogFormatError(
                f"rows event at {start_off}: row decode overran the event "
                f"body ({e})"
            ) from None
        if off != end:
            # a row decode that overshoots the body means truncated or
            # corrupt values — surface it instead of emitting garbage
            # rows (the reference hard-fails on unparseable events too)
            raise BinlogFormatError(
                f"rows event at {start_off}: row decode overran the event "
                f"body ({off} > {end})"
            )
        return out


def parse_binlog_bytes(
    data: bytes,
    *,
    log_file: str = "binlog",
    names_for: dict[str, list] | None = None,
    schema_ver: int = 2,
) -> Iterator[dict]:
    """Parse one binlog FILE's bytes into raw-event envelope dicts
    (RAW_EVENT columns + `statement`, images as JSON strings): slice
    the stream into events and feed BinlogEventParser."""
    if data[:4] != BINLOG_MAGIC:
        raise BinlogFormatError("bad binlog magic (not a binlog v4 file)")
    p = BinlogEventParser(log_file, names_for=names_for, schema_ver=schema_ver)
    pos = 4
    total = len(data)
    while pos + _HEADER_LEN <= total:
        event_size = _u(data, pos + 9, 4)
        if event_size < _HEADER_LEN or pos + event_size > total:
            raise BinlogFormatError(
                f"truncated event at offset {pos} (size {event_size})"
            )
        yield from p.feed(data[pos : pos + event_size], pos)
        pos += event_size


# ---------------------------------------------------------------------------
# Spark reader


def decode_binlog_df(
    binary_df,
    table_schemas: dict[str, list] | None = None,
    schema_ver: int = 2,
):
    """(path, content) rows -> RAW_EVENT envelope (+ statement) via one
    `mapInArrow` pass: a file's envelope rows leave the parser in Arrow
    record batches of at most `spark.sql.execution.arrow.maxRecordsPerBatch`
    rows (read here, on the driver), built column-wise against the
    output schema, so a worker never holds a whole file's row dicts.
    Works on both a batch `binaryFile` scan and a
    `readStream.format("binaryFile")` micro-batch (the streaming tail
    over a rotating binlog directory — S1's shape)."""
    from itertools import islice

    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from bingo2sql_spark import schema as S
    from bingo2sql_spark.session import on_python_worker

    out_schema = T.StructType(
        S.RAW_EVENT.fields + [T.StructField("statement", T.StringType(), True)]
    )
    arrow_schema = to_arrow_schema(out_schema)
    names_for = {k.lower(): v for k, v in (table_schemas or {}).items()}
    max_rows = int(
        binary_df.sparkSession.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    )
    # zero or negative: no limit, as for Spark's own Arrow batches
    limit = max_rows if max_rows > 0 else None

    @on_python_worker
    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            paths = batch.column("path").to_pylist()
            contents = batch.column("content").to_pylist()
            for path, content in zip(paths, contents):
                rows = parse_binlog_bytes(
                    content,
                    log_file=path.rsplit("/", 1)[-1],
                    names_for=names_for,
                    schema_ver=schema_ver,
                )
                while chunk := list(islice(rows, limit)):
                    yield pa.RecordBatch.from_pylist(chunk, schema=arrow_schema)

    return binary_df.select("path", "content").mapInArrow(gen, schema=out_schema)


def payload_schema_from(
    table_schemas: dict[str, list] | None,
):
    """Union image struct for decode_events(payload=...): every column
    name any registered table declares, as string fields (the engine's
    stored representation is text; JSON numbers land as their raw
    token). None when no registry was given — the caller falls back to
    the demo registry schema."""
    if not table_schemas:
        return None
    from pyspark.sql import types as T

    seen: set[str] = set()
    fields = []
    for cols in table_schemas.values():
        for c in _column_spec(cols)[0]:
            if c.lower() not in seen:
                seen.add(c.lower())
                fields.append(T.StructField(c, T.StringType()))
    return T.StructType(fields)


def binlog_raw_events(
    spark,
    path: str,
    table_schemas: dict[str, list] | None = None,
    schema_ver: int = 2,
):
    """Distributed binlog-file decode: `binaryFile` scan ->
    decode_binlog_df. Each file decodes in one task (files are the
    rotation-bounded unit of parallelism); no shuffle. Feed the result
    to decode_events(...) exactly like the JSONL landing."""
    raw = spark.read.format("binaryFile").load(path)
    return decode_binlog_df(raw, table_schemas, schema_ver)


# ---------------------------------------------------------------------------
# deterministic encoder (fixture/bench synthesis — no mysqld in the box)


def _header(ts: int, etype: int, body_len: int, next_pos: int) -> bytes:
    return struct.pack("<IBIIIH", ts, etype, 1, _HEADER_LEN + body_len, next_pos, 0)


class BinlogWriter:
    """Assemble real-format binlog v4 bytes (optionally CRC32
    checksummed): FDE, GTID, BEGIN/COMMIT query events, TABLE_MAP +
    WRITE/UPDATE/DELETE_ROWS v2, DDL query events. Supports the types
    the decoder supports; used by tests, the oracle round-trip query,
    and bench."""

    def __init__(self, *, checksum: bool = True):
        self.checksum = checksum
        self.buf = bytearray(BINLOG_MAGIC)
        self._table_ids: dict[str, int] = {}
        self._emit_fde("8.0.36")

    def _append(self, ts: int, etype: int, body: bytes) -> None:
        tail = 4 if (self.checksum and etype != FORMAT_DESCRIPTION_EVENT) else 0
        size = _HEADER_LEN + len(body) + tail
        next_pos = len(self.buf) + size
        ev = bytearray(_header(ts, etype, len(body) + tail, next_pos))
        ev += body
        if tail:
            ev += struct.pack("<I", zlib.crc32(bytes(ev)))
        self.buf += ev

    def _emit_fde(self, server_version: str) -> None:
        post_lens = bytes([0] * 40)
        body = (
            struct.pack("<H", 4)
            + server_version.encode().ljust(50, b"\x00")
            + struct.pack("<I", 0)
            + bytes([_HEADER_LEN])
            + post_lens
        )
        if self.checksum:
            body += bytes([1])  # checksum_alg = CRC32
            # FDE carries its own CRC when checksummed
            ev = bytearray(
                _header(0, FORMAT_DESCRIPTION_EVENT, len(body) + 4,
                        len(self.buf) + _HEADER_LEN + len(body) + 4)
            )
            ev += body
            ev += struct.pack("<I", zlib.crc32(bytes(ev)))
            self.buf += ev
        else:
            body += bytes([0])
            self._append(0, FORMAT_DESCRIPTION_EVENT, body)

    def gtid(self, uuid_hex32: str, gno: int, ts: int = 0) -> None:
        sid = bytes.fromhex(uuid_hex32.replace("-", ""))
        body = bytes([1]) + sid + struct.pack("<Q", gno)
        self._append(ts, GTID_LOG_EVENT, body)

    def query(self, sql: str, db: str = "", thread_id: int = 1, ts: int = 0) -> None:
        dbb = db.encode()
        body = (
            struct.pack("<IIBHH", thread_id, 0, len(dbb), 0, 0)
            + dbb
            + b"\x00"
            + sql.encode()
        )
        self._append(ts, QUERY_EVENT, body)

    def table_map(
        self, db: str, table: str, types: list[int], meta: list[int], ts: int = 0
    ) -> int:
        key = f"{db}.{table}"
        tid = self._table_ids.setdefault(key, 100 + len(self._table_ids))
        dbb, tbb = db.encode(), table.encode()
        meta_bytes = bytearray()
        for t, m in zip(types, meta):
            if t in (T_VARCHAR, T_VAR_STRING):
                meta_bytes += struct.pack("<H", m)
            elif t in (T_STRING, T_NEWDECIMAL):
                meta_bytes += bytes([m >> 8, m & 0xFF])
            elif t == T_BIT:
                meta_bytes += bytes([m % 8, m // 8])
            elif t in (T_BLOB, T_GEOMETRY, T_JSON, T_FLOAT, T_DOUBLE,
                       T_TIMESTAMP2, T_DATETIME2, T_TIME2):
                meta_bytes += bytes([m])
        n = len(types)
        # 6-byte table id, then 2-byte flags
        body = tid.to_bytes(6, "little") + struct.pack("<H", 1)
        body += bytes([len(dbb)]) + dbb + b"\x00"
        body += bytes([len(tbb)]) + tbb + b"\x00"
        body += self._lenenc(n) + bytes(types)
        body += self._lenenc(len(meta_bytes)) + bytes(meta_bytes)
        body += bytes((n + 7) // 8)  # nullability bitmap (all NOT NULL ok)
        self._append(ts, TABLE_MAP_EVENT, body)
        return tid

    @staticmethod
    def _lenenc(v: int) -> bytes:
        if v < 0xFB:
            return bytes([v])
        if v < 1 << 16:
            return b"\xfc" + struct.pack("<H", v)
        if v < 1 << 24:
            return b"\xfd" + v.to_bytes(3, "little")
        return b"\xfe" + struct.pack("<Q", v)

    @staticmethod
    def _encode_value(v, ctype: int, meta: int) -> bytes:
        if v is None:
            raise ValueError("NULLs are encoded in the null bitmap")
        if ctype == T_TINY:
            return struct.pack("<b", v)
        if ctype == T_SHORT:
            return struct.pack("<h", v)
        if ctype == T_INT24:
            return int(v).to_bytes(3, "little", signed=True)
        if ctype == T_LONG:
            return struct.pack("<i", v)
        if ctype == T_LONGLONG:
            return struct.pack("<q", v)
        if ctype == T_FLOAT:
            return struct.pack("<f", v)
        if ctype == T_DOUBLE:
            return struct.pack("<d", v)
        if ctype == T_YEAR:
            return bytes([0 if not v else v - 1900])
        if ctype in (T_VARCHAR, T_VAR_STRING):
            b = str(v).encode()
            if meta < 256:
                return bytes([len(b)]) + b
            return struct.pack("<H", len(b)) + b
        if ctype == T_BLOB:
            b = v if isinstance(v, bytes) else str(v).encode()
            return len(b).to_bytes(meta, "little") + b
        if ctype == T_STRING:
            real, maxlen = _string_meta(meta)
            if real in (T_ENUM, T_SET):
                # maxlen is the storage byte count; the value is the
                # enum index / set bitmask
                return int(v).to_bytes(maxlen, "little")
            b = str(v).encode()
            if maxlen < 256:
                return bytes([len(b)]) + b
            return struct.pack("<H", len(b)) + b
        if ctype == T_DATE:
            y, m, d = (int(x) for x in str(v).split("-"))
            return ((y << 9) | (m << 5) | d).to_bytes(3, "little")
        if ctype == T_DATETIME2:
            datepart, timepart = str(v).split(" ")
            frac = 0
            if "." in timepart:
                timepart, fr = timepart.split(".")
                frac = int(fr.ljust(6, "0")[:6]) // (10 ** (6 - 2 * _frac_bytes(meta)))
            y, mo, d = (int(x) for x in datepart.split("-"))
            h, mi, s = (int(x) for x in timepart.split(":"))
            intpart = (
                ((y * 13 + mo) << 22) | (d << 17) | (h << 12) | (mi << 6) | s
            ) + 0x8000000000
            out = intpart.to_bytes(5, "big")
            n = _frac_bytes(meta)
            if n:
                out += frac.to_bytes(n, "big")
            return out
        if ctype == T_NEWDECIMAL:
            precision, scale = meta >> 8, meta & 0xFF
            s = str(v)
            neg = s.startswith("-")
            s = s.lstrip("-")
            intpart, _, fracpart = s.partition(".")
            fracpart = fracpart.ljust(scale, "0")[:scale]
            intpart = intpart.zfill(precision - scale)[-(precision - scale):] if precision > scale else ""
            intg = precision - scale
            intg0, intg_rem = divmod(intg, 9)
            frac0, frac_rem = divmod(scale, 9)
            out = bytearray()
            p = 0
            if intg_rem:
                n = _DIG2BYTES[intg_rem]
                out += int(intpart[p : p + intg_rem] or "0").to_bytes(n, "big")
                p += intg_rem
            for _ in range(intg0):
                out += int(intpart[p : p + 9] or "0").to_bytes(4, "big")
                p += 9
            p = 0
            for _ in range(frac0):
                out += int(fracpart[p : p + 9] or "0").to_bytes(4, "big")
                p += 9
            if frac_rem:
                n = _DIG2BYTES[frac_rem]
                out += int(fracpart[p : p + frac_rem] or "0").to_bytes(n, "big")
            if neg:
                for i in range(len(out)):
                    out[i] ^= 0xFF
                out[0] &= 0x7F
            else:
                out[0] |= 0x80
            return bytes(out)
        if ctype == T_TIMESTAMP:
            ts = _dt.datetime.strptime(str(v), "%Y-%m-%d %H:%M:%S").replace(
                tzinfo=_dt.timezone.utc
            )
            return struct.pack("<I", int(ts.timestamp()))
        if ctype == T_DATETIME:
            datepart, timepart = str(v).split(" ")
            y, mo, d = (int(x) for x in datepart.split("-"))
            h, mi, s = (int(x) for x in timepart.split(":"))
            packed = ((y * 10_000 + mo * 100 + d) * 1_000_000
                      + h * 10_000 + mi * 100 + s)
            return struct.pack("<Q", packed)
        if ctype == T_TIME:
            txt = str(v)
            neg = txt.startswith("-")
            h, mi, s = (int(x) for x in txt.lstrip("-").split(":"))
            packed = h * 10_000 + mi * 100 + s
            return (-packed if neg else packed).to_bytes(3, "little", signed=True)
        raise ValueError(f"encoder does not support column type {ctype}")

    def _image(self, row: list, types: list[int], meta: list[int],
               present: list[bool]) -> bytes:
        pres_idx = [i for i, p in enumerate(present) if p]
        null_bm = bytearray((len(pres_idx) + 7) // 8)
        vals = bytearray()
        for j, i in enumerate(pres_idx):
            if row[i] is None:
                null_bm[j // 8] |= 1 << (j % 8)
            else:
                vals += self._encode_value(row[i], types[i], meta[i])
        return bytes(null_bm) + bytes(vals)

    def rows(
        self,
        db: str,
        table: str,
        op: str,
        types: list[int],
        meta: list[int],
        rows: list,
        ts: int = 0,
        present_after: list[bool] | None = None,
    ) -> None:
        """One rows event (v2). `rows`: for insert/delete a list of
        value lists; for update a list of (before, after) pairs.
        `present_after` narrows the update after-image (MINIMAL)."""
        if len(rows) > 4095:
            raise ValueError("cap rows per event at 4095 (seq packing)")
        tid = self._table_ids[f"{db}.{table}"]
        n = len(types)
        etype = {"insert": WRITE_ROWS_EVENT, "update": UPDATE_ROWS_EVENT,
                 "delete": DELETE_ROWS_EVENT}[op]
        present1 = [True] * n
        present2 = present_after if present_after is not None else [True] * n
        def bm(flags):
            b = bytearray((n + 7) // 8)
            for i, f in enumerate(flags):
                if f:
                    b[i // 8] |= 1 << (i % 8)
            return bytes(b)
        body = tid.to_bytes(6, "little") + struct.pack("<H", 0)
        body += struct.pack("<H", 2)  # v2 extra data: just its own length
        body += self._lenenc(n) + bm(present1)
        if op == "update":
            body += bm(present2)
        for r in rows:
            if op == "update":
                before, after = r
                body += self._image(before, types, meta, present1)
                body += self._image(after, types, meta, present2)
            else:
                body += self._image(r, types, meta, present1)
        self._append(ts, etype, body)

    def xid(self, xid: int = 1, ts: int = 0) -> None:
        self._append(ts, XID_EVENT, struct.pack("<Q", xid))

    def bytes(self) -> bytes:
        return bytes(self.buf)
