"""Golden value-decode tests mirroring the reference's type
expectations, run through the binlog decoder's per-type readers:
TestDatetime (core/parser_test.go:690-725), decimal exactness
(core/parser.go:1781-1782), ENUM/SET/BIT ints (core/parser_test.go:
538,662), GEOMETRY WKB escaped bytes (core/parser_test.go:664-688), and
the JSONB binary matrix (TestJsonV2 core/parser_test.go:1075-1198)."""

from __future__ import annotations

import json
import struct

import pytest

from bingo2sql_spark.sources import binlog_binary as B
from bingo2sql_spark.sources import codecs as C


def _read(ctype, meta, raw):
    """One binlog column value through its reader -> the decoded value."""
    tok, off = B._token_reader(ctype, meta)(raw, 0)
    assert off == len(raw)
    return json.loads(tok)


def _datetime2(v, fsp):
    return B.BinlogWriter._encode_value(v, B.T_DATETIME2, fsp)


def _time2(h, mi, s, micros, fsp):
    """TIME2 bytes assembled from the documented layout: 3 big-endian
    bytes of (h<<12 | mi<<6 | s) + 0x800000, then (fsp+1)//2 bytes of
    the fraction at 10^(2n) resolution."""
    n = (fsp + 1) // 2
    frac = (micros // 10 ** (6 - 2 * n)).to_bytes(n, "big") if n else b""
    return ((h << 12 | mi << 6 | s) + 0x800000).to_bytes(3, "big") + frac


def test_datetime_codec_golden():
    """Exact TestDatetime expectations for DATETIME(0/3/6), including
    zero dates and the '.000456' sub-millisecond case."""
    raw = ["2014-09-08 17:51:04.123456", "0000-00-00 00:00:00.000000",
           "2014-09-08 17:51:04.000456"]
    assert [_read(B.T_DATETIME2, 0, _datetime2(v, 0)) for v in raw] == [
        "2014-09-08 17:51:04", "0000-00-00 00:00:00", "2014-09-08 17:51:04",
    ]
    assert [_read(B.T_DATETIME2, 3, _datetime2(v, 3)) for v in raw] == [
        "2014-09-08 17:51:04.123", "0000-00-00 00:00:00.000", "2014-09-08 17:51:04.000",
    ]
    assert [_read(B.T_DATETIME2, 6, _datetime2(v, 6)) for v in raw] == [
        "2014-09-08 17:51:04.123456", "0000-00-00 00:00:00.000000",
        "2014-09-08 17:51:04.000456",
    ]
    # short fractions are right-padded
    assert _read(B.T_DATETIME2, 6, _datetime2("2012-05-07 14:01:01.5", 6)) == (
        "2012-05-07 14:01:01.500000"
    )


def test_decimal_codec_exact():
    """No float round-trip: DECIMAL(65,30)-scale values survive exactly;
    trailing fraction zeros are stripped like decimal.Decimal.String()."""
    meta = (65 << 8) | 30
    for v, want in (
        ("-45363.640000", "-45363.64"),
        ("5.000", "5"),
        ("100", "100"),
        ("0.000000000000000000000000000001", "0.000000000000000000000000000001"),
        # far beyond float53
        ("123456789012345678901234567890.500", "123456789012345678901234567890.5"),
    ):
        got = _read(B.T_NEWDECIMAL, meta, B.BinlogWriter._encode_value(v, B.T_NEWDECIMAL, meta))
        assert got == want, (v, got)


def test_enum_set_bit_codecs():
    """ENUM index and SET bitmask as stored ints; BIT(n) big-endian."""
    assert _read(B.T_STRING, (B.T_ENUM << 8) | 1, bytes([3])) == 3
    assert _read(B.T_STRING, (B.T_SET << 8) | 1, bytes([0b101])) == 5
    assert _read(B.T_BIT, 3, bytes([0b101])) == 5
    assert _read(B.T_BIT, 16, b"\x01\x00") == 256
    assert _read(B.T_BIT, 64, b"\xff" * 8) == (1 << 64) - 1


def test_datetime_codec_time_only_and_odd_layouts():
    """TIME(0/3) and DATE layouts: the fraction is cut at the column's
    precision, never spilled into the time fields, and a negative TIME
    keeps its sign."""
    assert _read(B.T_TIME2, 0, _time2(17, 51, 4, 0, 0)) == "17:51:04"
    assert _read(B.T_TIME2, 3, _time2(17, 51, 4, 123456, 3)) == "17:51:04.123"
    assert _read(B.T_TIME2, 6, _time2(17, 51, 4, 123456, 6)) == "17:51:04.123456"
    neg = ((0x800000 - (1 << 12 | 2 << 6 | 3)).to_bytes(3, "big"))
    assert _read(B.T_TIME2, 0, neg) == "-01:02:03"
    assert _read(B.T_DATE, 0, B.BinlogWriter._encode_value("2014-09-08", B.T_DATE, 0)) == (
        "2014-09-08"
    )


# --- MySQL JSONB binary goldens (TestJson/TestJsonV2 matrix, ---------------
# --- core/parser_test.go:1075-1198) ----------------------------------------


class _Opaque:
    def __init__(self, ftype, data):
        self.ftype, self.data = ftype, data


def _vlq(n):
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _enc(v, force_large=False):
    """Test-side JSONB encoder, written independently from the public
    MySQL json_binary layout (type in the value-entry; offsets relative
    to the container start; small scalars inlined)."""
    if v is None:
        return 0x04, b"\x00"
    if v is True:
        return 0x04, b"\x01"
    if v is False:
        return 0x04, b"\x02"
    if isinstance(v, _Opaque):
        return 0x0F, bytes([v.ftype]) + _vlq(len(v.data)) + v.data
    if isinstance(v, int):
        if -(1 << 15) <= v < 1 << 15:
            return 0x05, struct.pack("<h", v)
        if -(1 << 31) <= v < 1 << 31:
            return 0x07, struct.pack("<i", v)
        if -(1 << 63) <= v < 1 << 63:
            return 0x09, struct.pack("<q", v)
        return 0x0A, struct.pack("<Q", v)
    if isinstance(v, float):
        return 0x0B, struct.pack("<d", v)
    if isinstance(v, bytes):
        return 0x0C, _vlq(len(v)) + v
    if isinstance(v, str):
        b = v.encode()
        return 0x0C, _vlq(len(b)) + b
    # containers
    is_obj = isinstance(v, dict)
    keys = list(v.keys()) if is_obj else None
    vals = list(v.values()) if is_obj else list(v)
    large = force_large
    w = 4 if large else 2
    count = len(vals)
    encoded = [_enc(x) for x in vals]
    key_bytes = [k.encode() for k in keys] if is_obj else []
    header = 2 * w + ((w + 2) * count if is_obj else 0) + (1 + w) * count
    off = header
    key_entries = b""
    for kb in key_bytes:
        key_entries += off.to_bytes(w, "little") + len(kb).to_bytes(2, "little")
        off += len(kb)
    inline = {0x04, 0x05, 0x06} | ({0x07, 0x08} if large else set())
    val_entries, tail = b"", b""
    for t, payload in encoded:
        if t in inline:
            val_entries += bytes([t]) + payload.ljust(w, b"\x00")
        else:
            val_entries += bytes([t]) + off.to_bytes(w, "little")
            tail += payload
            off += len(payload)
    body = (
        count.to_bytes(w, "little")
        + off.to_bytes(w, "little")
        + key_entries
        + val_entries
        + b"".join(key_bytes)
        + tail
    )
    t = (0x01 if is_obj else 0x03) if large else (0x00 if is_obj else 0x02)
    return t, body


def _blob(v, force_large=False):
    t, body = _enc(v, force_large)
    return bytes([t]) + body


def _pack_dt(y, mo, d, h, mi, s, us=0):
    ymd = (y * 13 + mo) << 5 | d
    hms = h << 12 | mi << 6 | s
    return struct.pack("<q", ((ymd << 17 | hms) << 24) | us)


def _pack_time(h, mi, s, us=0):
    return struct.pack("<q", ((h << 12 | mi << 6 | s) << 24) | us)


def _bin_dec(digits: str, scale: int) -> bytes:
    """Test-side MySQL binary-decimal encoder (decimal2bin layout)."""
    d2b = [0, 1, 1, 2, 2, 3, 3, 4, 4, 4]
    neg = digits.startswith("-")
    digits = digits.lstrip("-")
    intp, _, frac = digits.partition(".")
    frac = frac.ljust(scale, "0")
    precision = len(intp) + scale
    intg0, intg0x = divmod(len(intp), 9)
    frac0, frac0x = divmod(scale, 9)
    buf = bytearray()
    pos = 0
    if intg0x:
        buf += int(intp[:intg0x]).to_bytes(d2b[intg0x], "big")
        pos = intg0x
    for _ in range(intg0):
        buf += int(intp[pos : pos + 9]).to_bytes(4, "big")
        pos += 9
    pos = 0
    for _ in range(frac0):
        buf += int(frac[pos : pos + 9]).to_bytes(4, "big")
        pos += 9
    if frac0x:
        buf += int(frac[pos : pos + frac0x]).to_bytes(d2b[frac0x], "big")
    if neg:
        for i in range(len(buf)):
            buf[i] ^= 0xFF
    buf[0] ^= 0x80
    return bytes([precision, scale]) + bytes(buf)


def test_jsonb_literal_bytes_hand_checked():
    """{"a": 2} as hand-written wire bytes (independent of the test
    encoder): small object, 1 element, size 0x0c, key at offset 11
    len 1, inlined int16 value 2, key byte 'a'."""
    raw = bytes.fromhex("00" "0100" "0c00" "0b00" "0100" "05" "0200" "61")
    assert C.decode_jsonb(raw) == '{"a":2}'
    assert _blob({"a": 2}) == raw  # encoder agrees with the wire bytes


def test_jsonb_golden_matrix():
    """The reference's TestJsonV2 canonical outputs
    (core/parser_test.go:1160-1198), incl. key sorting, int width
    ladder, uint64, double overflow rendering, opaque decimal and
    packed temporals, and invalid-UTF-8 replacement."""
    g = C.decode_jsonb
    assert g(_blob({"a": 2})) == '{"a":2}'
    assert g(_blob([1, 2])) == "[1,2]"
    assert (
        g(_blob({"a": "b", "c": "d", "ab": "abc", "bc": ["x", "y"]}))
        == '{"a":"b","ab":"abc","bc":["x","y"],"c":"d"}'
    )
    assert g(_blob(["here", ["I", "am"], "!!!"])) == '["here",["I","am"],"!!!"]'
    assert g(_blob("scalar string")) == '"scalar string"'
    assert g(_blob(True)) == "true"
    assert g(_blob(False)) == "false"
    assert g(_blob(None)) == "null"
    assert g(b"") is None  # MySQL NULL JSON
    for n in (-1, 32767, 32768, -32768, -32769, 2147483647, 2147483648,
              -2147483648, -2147483649, 18446744073709551615):
        assert g(_blob(n)) == str(n)
    assert g(_blob(float(18446744073709551616))) == "18446744073709552000"
    assert g(_blob(3.14)) == "3.14"
    assert g(_blob({})) == "{}"
    assert g(_blob([])) == "[]"
    assert g(_blob(_Opaque(246, _bin_dec("1421335465", 0)))) == "1421335465"
    assert (
        g(_blob(_Opaque(12, _pack_dt(2015, 1, 15, 23, 24, 25))))
        == '"2015-01-15 23:24:25.000000"'
    )
    assert g(_blob(_Opaque(11, _pack_time(23, 24, 25)))) == '"23:24:25.000000"'
    assert (
        g(_blob(_Opaque(11, _pack_time(23, 24, 25, 24000)))) == '"23:24:25.024000"'
    )
    assert (
        g(_blob(_Opaque(10, _pack_dt(2015, 1, 15, 0, 0, 0))))
        == '"2015-01-15 00:00:00.000000"'
    )
    assert g(_blob(b"\xca\xfe")) == '"\\ufffd\\ufffd"'
    long_key = "a" * 199
    assert g(_blob({long_key: 123})) == '{"%s":123}' % long_key
    long_str = "x" * 300  # 2-byte varint length
    assert g(_blob(long_str)) == '"' + long_str + '"'
    # large-format containers (4-byte headers, int32 inlined)
    assert (
        g(_blob({"a": 2, "b": [1, 2147483647]}, force_large=True))
        == '{"a":2,"b":[1,2147483647]}'
    )
    assert g(_blob([1, 2], force_large=True)) == "[1,2]"
    # decimal corners
    assert g(_blob(_Opaque(246, _bin_dec("-45363.64", 2)))) == "-45363.64"
    assert g(_blob(_Opaque(246, _bin_dec("0", 0)))) == "0"


def test_jsonb_truncated_opaque_decimal_raises():
    """A JSONB opaque DECIMAL whose payload is cut short raises, like the
    NEWDECIMAL column reader, instead of decoding the bytes that are
    left (DECIMAL(12,6) -45363.64 with 2 bytes cut used to come out as
    -45363.000009)."""
    dec = _bin_dec("-45363.64", 6)
    assert C.decode_jsonb(_blob(_Opaque(246, dec))) == "-45363.640000"
    for cut in (dec[:-2], dec[:-1], dec[:2], dec[:1]):
        with pytest.raises(B.BinlogFormatError):
            C.decode_jsonb(_blob(_Opaque(246, cut)))


def test_binary_codec_roundtrip_and_escape(spark):
    """WKB-style bytes carried as a latin-1 string render as the
    reference's escaped binary literal (NUL -> \\0 etc.)."""
    from pyspark.sql import functions as F

    from bingo2sql_spark.functions.render import sql_literal

    wkb = b"\x00\x00\x00\x00\x01\x01\x00\x1a\xf0?".decode("latin-1")
    lit = (
        spark.createDataFrame([(wkb,)], "v string")
        .select(F.expr(sql_literal("v")).alias("l"))
        .collect()[0]["l"]
    )
    assert lit.startswith("'\\0\\0\\0\\0\x01\x01\\0\x1a".replace("\x1a", "\\Z"))
    assert "\x00" not in lit


def test_json_codec_validates():
    """A corrupt JSONB value raises instead of rendering bad SQL: an
    unknown type byte and a truncated container both fail loudly."""
    with pytest.raises(ValueError, match="unknown type byte"):
        C.decode_jsonb(b"\x42\x00")
    with pytest.raises(IndexError):
        C.decode_jsonb(_blob({"a": [1, 2]})[:6])
