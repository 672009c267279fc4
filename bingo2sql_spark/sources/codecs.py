"""MySQL JSONB binary decode: one binlog JSON column value -> canonical
JSON text (`decode_jsonb`), called by sources.binlog_binary's JSON
column reader (golden outputs TestJson/TestJsonV2
core/parser_test.go:1075-1198).

Format per the public MySQL json_binary.h documentation: a type byte
then a type-specific payload; small (2-byte) and large (4-byte)
object/array headers; inlined small scalars; opaque values for DECIMAL
and temporals. Canonical text: compact separators, object keys sorted
lexicographically, non-ASCII \\u-escaped, invalid UTF-8 -> U+FFFD — the
same canonical form the reference's goldens pin.
"""

from __future__ import annotations

from bingo2sql_spark.sources.binlog_binary import BinlogFormatError, _decimal_digits

_JSONB_SMALL_OBJECT = 0x00
_JSONB_LARGE_OBJECT = 0x01
_JSONB_SMALL_ARRAY = 0x02
_JSONB_LARGE_ARRAY = 0x03
_JSONB_LITERAL = 0x04
_JSONB_INT16 = 0x05
_JSONB_UINT16 = 0x06
_JSONB_INT32 = 0x07
_JSONB_UINT32 = 0x08
_JSONB_INT64 = 0x09
_JSONB_UINT64 = 0x0A
_JSONB_DOUBLE = 0x0B
_JSONB_STRING = 0x0C
_JSONB_OPAQUE = 0x0F

#: MySQL column-type codes seen inside opaque values
_MYSQL_TYPE_NEWDECIMAL = 246
_MYSQL_TYPE_DATE = 10
_MYSQL_TYPE_TIME = 11
_MYSQL_TYPE_DATETIME = 12
_MYSQL_TYPE_TIMESTAMP = 7

def _jsonb_varlen(data: bytes, pos: int) -> tuple[int, int]:
    """Variable-length quantity (little-endian base-128)."""
    length, shift = 0, 0
    while True:
        b = data[pos]
        pos += 1
        length |= (b & 0x7F) << shift
        if not b & 0x80:
            return length, pos
        shift += 7


def _bin_decimal(data: bytes) -> str:
    """JSONB opaque DECIMAL: precision and scale bytes, then the
    decimal2bin digits (binlog_binary._decimal_digits, which raises on a
    truncated payload). The fraction stays padded to the scale."""
    if len(data) < 2:
        raise BinlogFormatError("truncated JSONB DECIMAL header")
    positive, int_digits, frac_digits, _ = _decimal_digits(data, 2, data[0], data[1])
    out = int_digits + ("." + frac_digits if frac_digits else "")
    return ("-" if not positive else "") + out


def _packed_temporal(data: bytes, field_type: int) -> str:
    """Packed temporal inside a JSONB opaque (my_time.h packed layout:
    microseconds in the low 24 bits, then second/minute/hour/day/month/
    year fields). DATE/DATETIME/TIMESTAMP render as the full
    'YYYY-MM-DD HH:MM:SS.ffffff' (the reference's goldens render DATE
    with a zero time part); TIME renders 'HH:MM:SS.ffffff'."""
    packed = int.from_bytes(data[:8], "little", signed=True)
    neg = packed < 0
    if neg:
        packed = -packed
    frac = packed & 0xFFFFFF
    v = packed >> 24
    second = v & 0x3F
    minute = (v >> 6) & 0x3F
    hour = (v >> 12) & 0x1F
    if field_type == _MYSQL_TYPE_TIME:
        # TIME hour field is wider (no ymd above it)
        hour = (v >> 12) & 0x3FF
        return f"{'-' if neg else ''}{hour:02d}:{minute:02d}:{second:02d}.{frac:06d}"
    ymd = v >> 17
    day = ymd & 0x1F
    ym = ymd >> 5
    year, month = divmod(ym, 13)
    return (
        f"{year:04d}-{month:02d}-{day:02d} {hour:02d}:{minute:02d}:{second:02d}.{frac:06d}"
    )


class _RawNum:
    __slots__ = ("text",)

    def __init__(self, text: str):
        self.text = text


def _jsonb_value(data: bytes, type_byte: int, pos: int):
    import struct

    if type_byte in (_JSONB_SMALL_OBJECT, _JSONB_LARGE_OBJECT,
                     _JSONB_SMALL_ARRAY, _JSONB_LARGE_ARRAY):
        large = type_byte in (_JSONB_LARGE_OBJECT, _JSONB_LARGE_ARRAY)
        is_obj = type_byte in (_JSONB_SMALL_OBJECT, _JSONB_LARGE_OBJECT)
        w = 4 if large else 2
        base = pos
        count = int.from_bytes(data[pos : pos + w], "little")
        pos += 2 * w  # skip count + total-size
        keys = []
        if is_obj:
            for _ in range(count):
                koff = int.from_bytes(data[pos : pos + w], "little")
                klen = int.from_bytes(data[pos + w : pos + w + 2], "little")
                keys.append(
                    data[base + koff : base + koff + klen].decode("utf-8", "replace")
                )
                pos += w + 2
        vals = []
        inline_ok = (_JSONB_LITERAL, _JSONB_INT16, _JSONB_UINT16) + (
            (_JSONB_INT32, _JSONB_UINT32) if large else ()
        )
        for _ in range(count):
            # value-entry = type byte + (inlined value | offset); the
            # offset points at the PAYLOAD (type lives in the entry)
            vt = data[pos]
            if vt in inline_ok:
                vals.append(_jsonb_value(data, vt, pos + 1))
            else:
                voff = int.from_bytes(data[pos + 1 : pos + 1 + w], "little")
                vals.append(_jsonb_value(data, vt, base + voff))
            pos += 1 + w
        return dict(zip(keys, vals)) if is_obj else vals
    if type_byte == _JSONB_LITERAL:
        return {0x00: None, 0x01: True, 0x02: False}[data[pos]]
    if type_byte == _JSONB_INT16:
        return int.from_bytes(data[pos : pos + 2], "little", signed=True)
    if type_byte == _JSONB_UINT16:
        return int.from_bytes(data[pos : pos + 2], "little")
    if type_byte == _JSONB_INT32:
        return int.from_bytes(data[pos : pos + 4], "little", signed=True)
    if type_byte == _JSONB_UINT32:
        return int.from_bytes(data[pos : pos + 4], "little")
    if type_byte == _JSONB_INT64:
        return int.from_bytes(data[pos : pos + 8], "little", signed=True)
    if type_byte == _JSONB_UINT64:
        return int.from_bytes(data[pos : pos + 8], "little")
    if type_byte == _JSONB_DOUBLE:
        return struct.unpack("<d", data[pos : pos + 8])[0]
    if type_byte == _JSONB_STRING:
        length, pos = _jsonb_varlen(data, pos)
        return data[pos : pos + length].decode("utf-8", "replace")
    if type_byte == _JSONB_OPAQUE:
        field_type = data[pos]
        length, pos = _jsonb_varlen(data, pos + 1)
        payload = data[pos : pos + length]
        if field_type == _MYSQL_TYPE_NEWDECIMAL:
            return _RawNum(_bin_decimal(payload))
        if field_type in (_MYSQL_TYPE_DATE, _MYSQL_TYPE_DATETIME,
                          _MYSQL_TYPE_TIMESTAMP, _MYSQL_TYPE_TIME):
            return _packed_temporal(payload, field_type)
        # unknown opaque: surface as a (lossy-marked) string, loudly typed
        return payload.decode("utf-8", "replace")
    raise ValueError(f"jsonb: unknown type byte 0x{type_byte:02x}")


def _fmt_double(x: float) -> str:
    """Go-style shortest double: plain notation for the JSON-typical
    magnitude range (the reference emits 18446744073709552000, not
    1.8446744073709552e+19)."""
    r = repr(x)
    if ("e" in r or "E" in r) and 1e-6 <= abs(x) < 1e21:
        from decimal import Decimal

        r = format(Decimal(r), "f")
    return r


def _jsonb_render(v) -> str:
    import json as _json

    if v is None:
        return "null"
    if v is True:
        return "true"
    if v is False:
        return "false"
    if isinstance(v, _RawNum):
        return v.text
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return _fmt_double(v)
    if isinstance(v, str):
        return _json.dumps(v, ensure_ascii=True)
    if isinstance(v, list):
        return "[" + ",".join(_jsonb_render(x) for x in v) + "]"
    if isinstance(v, dict):
        return (
            "{"
            + ",".join(
                _json.dumps(k, ensure_ascii=True) + ":" + _jsonb_render(v[k])
                for k in sorted(v)
            )
            + "}"
        )
    raise TypeError(f"jsonb render: {type(v)}")


def decode_jsonb(data: bytes | None) -> str | None:
    """One MySQL binlog JSONB value -> canonical JSON text (keys sorted,
    compact, ASCII-escaped). Empty/None -> None (MySQL's NULL JSON)."""
    if data is None or len(data) == 0:
        return None
    return _jsonb_render(_jsonb_value(bytes(data), data[0], 1))
