"""Golden codec tests mirroring the reference's type expectations:
TestDatetime (core/parser_test.go:690-725), decimal exactness
(core/parser.go:1781-1782), ENUM/SET/BIT ints (core/parser_test.go:
538,662), GEOMETRY WKB escaped bytes (core/parser_test.go:664-688)."""

from __future__ import annotations

import pandas as pd

from bingo2sql_spark.sources import codecs as C


def _s(*vals):
    return pd.Series(list(vals), dtype="object")


def test_datetime_codec_golden():
    """Exact TestDatetime expectations for precisions 0 / 3 / 6,
    including zero dates and the '.000456' sub-millisecond case."""
    raw = _s(
        "2014-09-08 17:51:04.123456",
        "0000-00-00 00:00:00.000000",
        "2014-09-08 17:51:04.000456",
        None,
    )
    assert list(C.datetime_codec(0)(raw)) == [
        "2014-09-08 17:51:04",
        "0000-00-00 00:00:00",
        "2014-09-08 17:51:04",
        None,
    ]
    assert list(C.datetime_codec(3)(raw)) == [
        "2014-09-08 17:51:04.123",
        "0000-00-00 00:00:00.000",
        "2014-09-08 17:51:04.000",
        None,
    ]
    assert list(C.datetime_codec(6)(raw)) == [
        "2014-09-08 17:51:04.123456",
        "0000-00-00 00:00:00.000000",
        "2014-09-08 17:51:04.000456",
        None,
    ]
    # short fractions are right-padded; date-only values gain midnight
    assert list(C.datetime_codec(6)(_s("2012-05-07 14:01:01.5"))) == [
        "2012-05-07 14:01:01.500000"
    ]
    assert list(C.datetime_codec(0)(_s("2012-05-07"))) == ["2012-05-07 00:00:00"]


def test_decimal_codec_exact():
    """No float round-trip: DECIMAL(65,30)-scale values survive exactly;
    trailing fraction zeros are stripped like decimal.Decimal.String()."""
    raw = _s(
        "-45363.640000",
        "5.000",
        "100",
        "0.000000000000000000000000000001",
        "123456789012345678901234567890.500",  # far beyond float53
        None,
    )
    assert list(C.decimal_codec(raw)) == [
        "-45363.64",
        "5",
        "100",
        "0.000000000000000000000000000001",
        "123456789012345678901234567890.5",
        None,
    ]


def test_enum_set_bit_codecs():
    e = C.enum_codec(["a", "b", "c"])
    assert list(e(_s("a", "c", "2", None))) == ["1", "3", "2", None]
    s = C.set_codec(["a", "b", "c"])
    assert list(s(_s("a,b", "a,c", "3", "", None))) == ["3", "5", "3", "0", None]
    assert list(C.bit_codec(_s("b'101'", "101", b"\x01\x00", "7", None))) == [
        "5", "5", "256", "7", None,
    ]


def test_enum_set_vocab_drift_raises():
    """An ENUM value / SET member outside the declared list raises
    instead of silently rendering NULL / dropping the bit (ADVICE r2:
    vocab drift must be loud — the reference always resolves the LIVE
    DDL, core/parser.go:1646-1656, so drift cannot happen there)."""
    import pytest

    e = C.enum_codec(["a", "b"])
    with pytest.raises(ValueError, match="not in declared ENUM"):
        e(_s("a", "zz"))
    s = C.set_codec(["a", "b"])
    with pytest.raises(ValueError, match="not in declared SET"):
        s(_s("a,zz"))


def test_datetime_codec_time_only_and_odd_layouts():
    """Fraction handling splits on the dot, not a fixed offset (ADVICE
    r2: time-only values produced corrupt output like
    '17:51:04.123456 00:.000')."""
    raw = _s("17:51:04.123456", "17:51:04", "2014-09-08")
    assert list(C.datetime_codec(0)(raw)) == [
        "17:51:04", "17:51:04", "2014-09-08 00:00:00",
    ]
    assert list(C.datetime_codec(3)(raw)) == [
        "17:51:04.123", "17:51:04.000", "2014-09-08 00:00:00.000",
    ]


# --- MySQL JSONB binary goldens (TestJson/TestJsonV2 matrix, ---------------
# --- core/parser_test.go:1075-1198) ----------------------------------------

import struct


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
    # codec wrapper: bytes and latin-1 strings, None passthrough
    out = C.jsonb_codec(_s(_blob({"a": 2}), _blob({"a": 2}).decode("latin-1"), None))
    assert list(out) == ['{"a":2}', '{"a":2}', None]


def test_binary_codec_roundtrip_and_escape(spark):
    """WKB-style bytes survive into the payload and render as the
    reference's escaped binary literal (NUL -> \\0 etc.)."""
    wkb = b"\x00\x00\x00\x00\x01\x01\x00\x1a\xf0?"
    out = C.binary_codec(_s(wkb, None))
    assert out[0] == wkb.decode("latin-1") and out[1] is None
    from pyspark.sql import functions as F

    from bingo2sql_spark.functions.render import sql_literal

    lit = (
        spark.createDataFrame([(out[0],)], "v string")
        .select(F.expr(sql_literal("v")).alias("l"))
        .collect()[0]["l"]
    )
    assert lit.startswith("'\\0\\0\\0\\0\x01\x01\\0\x1a".replace("\x1a", "\\Z"))
    assert "\x00" not in lit


def test_json_codec_validates():
    ok = C.json_codec(_s('{"a": 1}', "[1,2]", None))
    assert list(ok) == ['{"a": 1}', "[1,2]", None]
    try:
        C.json_codec(_s("{not json"))
        raise AssertionError("expected parse failure")
    except Exception:
        pass


def test_decode_arrow_with_codecs_end_to_end(spark):
    """column_codecs normalize both images inside decode_events_arrow;
    without codecs the decode output is unchanged (differential covered
    by test_decode_jvm_equals_arrow_equals_original)."""
    from bingo2sql_spark.sources.decode import decode_events_arrow
    from bingo2sql_spark.sources.synth import generate_events, to_raw

    from bingo2sql_spark.sources.synth import LANGS

    raw = to_raw(generate_events(spark, n_keys=20, versions_per_key=4))
    dec = decode_events_arrow(
        raw, column_codecs={"commit": C.decimal_codec, "lang": C.enum_codec(LANGS)}
    )
    rows = dec.filter("after is not null").select("after.lang").limit(50).collect()
    # every lang became its 1-based ENUM index (drift would have raised)
    idx = {str(i + 1) for i in range(len(LANGS))}
    assert all(r["lang"] is None or r["lang"] in idx for r in rows)
    assert any(r["lang"] in idx for r in rows)
