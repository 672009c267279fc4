"""Hypothesis property tests: escaping safety (one Spark collect per
example batch), binlog value-reader exactness (unsigned integers,
decimals, BIT), sampling thresholds, JSONB round-trips."""

from __future__ import annotations

import decimal

from hypothesis import given, settings
from hypothesis import strategies as st

from bingo2sql_spark.functions.sampling import threshold_hex
from bingo2sql_spark.sources import binlog_binary as B
from bingo2sql_spark.sources import codecs as C

TEXT = st.text(
    alphabet=st.characters(min_codepoint=0, max_codepoint=0x2FF), max_size=200
)


def _unescape(s: str) -> str:
    """Inverse of the MySQL backslash escape set (what the server does
    when parsing the literal)."""
    out, i = [], 0
    mapping = {"\\": "\\", "'": "'", '"': '"', "n": "\n", "r": "\r", "0": "\x00", "Z": "\x1a"}
    while i < len(s):
        ch = s[i]
        if ch == "\\" and i + 1 < len(s) and s[i + 1] in mapping:
            out.append(mapping[s[i + 1]])
            i += 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


@given(st.lists(TEXT, max_size=200))
@settings(max_examples=10, deadline=None)
def test_escape_roundtrip_and_safety(spark, strings):
    from pyspark.sql import functions as F

    from bingo2sql_spark.functions.render import sql_escape

    rows = (
        spark.createDataFrame([(s,) for s in strings], "v string")
        .select("v", F.expr(sql_escape("v")).alias("esc"))
        .collect()
    )
    assert [r["v"] for r in rows] == strings
    for s, esc in ((r["v"], r["esc"]) for r in rows):
        # no raw quote/NUL/Ctrl-Z survives unescaped -> the literal can
        # never terminate early or corrupt the file
        assert "\x00" not in esc and "\x1a" not in esc
        i = 0
        while i < len(esc):
            if esc[i] == "\\":
                i += 2
                continue
            assert esc[i] not in ("'", '"'), f"unescaped quote in {esc!r}"
            i += 1
        # MySQL's unescape recovers the original bytes exactly
        assert _unescape(esc) == s


_INT_TYPES = {8: B.T_TINY, 16: B.T_SHORT, 24: B.T_INT24, 32: B.T_LONG, 64: B.T_LONGLONG}


def _unsigned_read(bits: int, v: int) -> int:
    """The binlog's UNSIGNED reader over the raw two's-complement bytes
    of `v` at one integer width."""
    raw = v.to_bytes(bits // 8, "little", signed=True)
    tok, off = B._token_reader(_INT_TYPES[bits], 0, unsigned=True)(raw, 0)
    assert off == bits // 8
    # the signed reader of the same bytes gives back v itself
    assert B._token_reader(_INT_TYPES[bits], 0)(raw, 0)[0] == str(v)
    return int(tok)


@given(st.data(), st.sampled_from([8, 16, 24, 32]))
@settings(max_examples=300, deadline=None)
def test_unsigned_fixup_matches_reference_semantics(data, bits):
    # reference processValue: a negative raw value v of an UNSIGNED
    # column is 1<<bits + v, else unchanged
    v = data.draw(st.integers(min_value=-(1 << (bits - 1)), max_value=(1 << (bits - 1)) - 1))
    assert _unsigned_read(bits, v) == ((1 << bits) + v if v < 0 else v)


@given(st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1))
@settings(max_examples=300, deadline=None)
def test_unsigned_fixup_u64_exact(v):
    got = _unsigned_read(64, v)
    # two's-complement reinterpretation, exact over the whole uint64 range
    assert got == v % (1 << 64) and 0 <= got < (1 << 64)


@given(
    st.decimals(
        min_value=-(10 ** 20), max_value=10 ** 20, allow_nan=False, allow_infinity=False, places=8
    )
)
@settings(max_examples=300, deadline=None)
def test_decimal_codec_value_preserving(d):
    s = format(d, "f")
    meta = (30 << 8) | 8
    enc = B.BinlogWriter._encode_value(s, B.T_NEWDECIMAL, meta)
    out, off = B._decode_newdecimal(enc, 0, 30, 8)
    # exact value preserved, never float; rendered like the reference's
    # decimal.Decimal.String(): no trailing fraction zeros, no bare dot
    assert off == len(enc) and decimal.Decimal(out) == decimal.Decimal(s)
    _, dot, frac = out.partition(".")
    assert not dot or (frac and not frac.endswith("0")), (s, out)


@given(st.floats(min_value=0.0, max_value=1.0, allow_nan=False))
@settings(max_examples=200, deadline=None)
def test_threshold_hex_monotone(f):
    t = threshold_hex(f)
    # monotone in f and comparable against 8-hex draws
    assert threshold_hex(0.0) <= t <= threshold_hex(1.0)
    if f < 1.0:
        assert len(t) == 8 and t <= "ffffffff"


@given(st.integers(min_value=0, max_value=(1 << 64) - 1))
@settings(max_examples=200, deadline=None)
def test_bit_codec_bytes(v):
    raw = v.to_bytes(8, "big")
    assert B._token_reader(B.T_BIT, 64)(raw, 0) == (str(v), 8)


# --- JSONB binary decode round-trip -----------------------------------------
# The test-side encoder (tests/test_codecs.py) and decode_jsonb are
# independent implementations of the public json_binary layout; random
# JSON values must round-trip to the canonical text python produces.

_json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**63), max_value=2**64 - 1),
    st.text(max_size=40),
)
_json_values = st.recursive(
    _json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=5),
        st.dictionaries(st.text(min_size=1, max_size=10), children, max_size=5),
    ),
    max_leaves=12,
)


def _canon(v) -> str:
    import json as _json

    if v is None:
        return "null"
    if v is True:
        return "true"
    if v is False:
        return "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        return _json.dumps(v, ensure_ascii=True)
    if isinstance(v, list):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        import json as _j

        return (
            "{"
            + ",".join(_j.dumps(k, ensure_ascii=True) + ":" + _canon(v[k])
                       for k in sorted(v))
            + "}"
        )
    raise TypeError(type(v))


@settings(max_examples=150, deadline=None)
@given(_json_values)
def test_jsonb_roundtrip_random_values(v):
    from tests.test_codecs import _blob

    assert C.decode_jsonb(_blob(v)) == _canon(v)


@settings(max_examples=60, deadline=None)
@given(_json_values)
def test_jsonb_roundtrip_large_format(v):
    from tests.test_codecs import _blob

    if not isinstance(v, (list, dict)):
        return
    assert C.decode_jsonb(_blob(v, force_large=True)) == _canon(v)
