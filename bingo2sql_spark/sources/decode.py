"""S2/T7/T10 — decode raw wire events into the typed envelope.

The reference decodes binlog bytes row-at-a-time in Go
(parserFile core/parseFile.go:16-179; value handling
core/parser.go:1322-1360,1736-1874). Here the landing format is columnar
(scalar header columns + JSON-serialized row images, schema.RAW_EVENT)
and decoding is batched:

- `decode_events` (default): `from_json` — JVM-side, whole-stage
  codegen, schema from the registry. This is the hot path.
- `decode_events_arrow`: `mapInPandas` over Arrow batches — the
  extension point for codecs Spark cannot express (MySQL unsigned
  reinterpretation, zero-date sentinels, ENUM/SET/BIT ints, JSON v1/v2
  binary). Never splits an event across batches (each row is one event;
  the reference's update before/after pairing, core/parser.go:1414, is
  already materialized into the two image columns upstream).

Schema evolution (T10 upgraded): the decoder resolves each event's
schema_ver against the registry; columns absent in that version decode
as NULL (added-column NULL-fill), columns dropped from the target
version are projected away — instead of the reference's blacklist-and-
skip (checkCanParse core/parser.go:1242-1253).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bingo2sql_spark import schema as S
from bingo2sql_spark.functions.sqltext import ident, str_lit

_HEADER = [
    "seq", "log_file", "log_pos", "gtid_uuid", "gno", "ts",
    "thread_id", "db", "table", "op",
]


def decode_events(
    raw: DataFrame,
    schema_ver: int = S.LATEST_SCHEMA_VER,
    before_fields: list[str] | None = None,
    on_corrupt: str = "fail",
    payload: "T.StructType | None" = None,
) -> DataFrame:
    """JVM decode: JSON images -> typed structs of the requested schema
    version (missing fields -> NULL, extra fields ignored = dropped).

    `before_fields` narrows the BEFORE-image parse to those fields (the
    forward replay/MERGE path only ever reads the merge keys from the
    before image — delete-row identity). Catalyst cannot prune this
    automatically here: the full-schema from_json is referenced by
    several GetStructFields, so CollapseProject keeps it materialized
    and the JSON schema-pruning rule never fires. Narrowing the schema
    explicitly skips tokenizing the payload columns (content dominates
    bytes) — measurable decode savings at 10^10 events. Not for
    flashback/render paths, which need the full before image.

    `on_corrupt`: by default from_json PERMISSIVE-parses, so a MALFORMED
    image silently becomes a struct of all-NULL fields and melts into a
    NULL-keyed upsert — silent corruption. "fail" (default) parses with
    mode=FAILFAST, raising on the first bad record with the offending
    text (the reference likewise hard-fails on unparseable binlog
    events); "keep" restores PERMISSIVE for forensic pipelines that
    filter corrupt rows themselves."""
    if on_corrupt not in ("fail", "keep"):
        raise ValueError(f"on_corrupt must be 'fail' or 'keep', got {on_corrupt!r}")
    # `payload` override: decode against a caller-provided image struct
    # instead of the registry version — the binlog landing's schema is
    # whatever the source tables declare (incl. DDL-added columns), not
    # this engine's demo registry
    if payload is None:
        payload = S.payload_schema(schema_ver)
    before_schema = payload
    if before_fields is not None:
        from pyspark.sql import types as T

        want = set(before_fields)
        before_schema = T.StructType([f for f in payload.fields if f.name in want])

    mode = ", map('mode', 'FAILFAST')" if on_corrupt == "fail" else ""

    def img(json_col: str, schema) -> str:
        return f"from_json({json_col}, {str_lit(schema.json())}{mode})"

    # one selectExpr: the projection costs a few gateway calls, not a
    # Column tree per field
    return raw.selectExpr(
        *[ident(c) for c in _HEADER],
        img("before_json", before_schema) + " AS `before`",
        img("after_json", payload) + " AS `after`",
        "changed_cols",
        "schema_ver",
        # op='ddl' Query events ride along when the wire carries them
        # (binlog_binary / synth DDL streams) — render/pipeline consume
        # the column by presence
        *(["statement"] if "statement" in raw.columns else []),
    )


def decode_events_typed(
    raw: DataFrame,
    schema_ver: int = S.LATEST_SCHEMA_VER,
    before_fields: list[str] | None = None,
) -> DataFrame:
    """Typed-wire decode: a pure PROJECTION, no parse at all.

    For tailers that land row images as typed parquet structs
    (schema.RAW_EVENT_TYPED — the Debezium-with-schema-registry landing
    shape) instead of JSON text. The binlog itself is binary — the
    reference never pays a text-parse tax (core/parseFile.go:16-179) —
    so a connector that keeps values typed all the way down makes this
    engine's decode stage free: `decode_events_typed` only aligns the
    wire structs to the requested registry version (missing field ->
    typed NULL, extra field -> projected away) with Column expressions
    that stay inside whole-stage codegen. decode_events (JSON) remains
    the fallback for text-landing connectors.

    Scale note: with `before_fields` narrowed to the merge keys, the
    projection composes with Spark's nested-schema pruning, so the
    parquet scan reads ONLY before.repo/before.path — the payload bytes
    of the before image (content dominates) are never read off disk.
    """
    payload = S.payload_schema(schema_ver)
    before_schema = payload
    if before_fields is not None:
        from pyspark.sql import types as T

        want = set(before_fields)
        before_schema = T.StructType([f for f in payload.fields if f.name in want])

    def align(colname: str, schema) -> F.Column:
        src = raw.schema[colname].dataType
        have = {f.name for f in src.fields}
        if [f.name for f in src.fields] == [f.name for f in schema.fields]:
            return F.col(colname)  # exact wire/registry match: pass-through
        inner = F.struct(
            *[
                (
                    F.col(f"{colname}.{f.name}")
                    if f.name in have
                    else F.lit(None).cast(f.dataType)
                ).alias(f.name)
                for f in schema.fields
            ]
        )
        # Rebuilding a struct from a NULL struct's fields yields a
        # struct of NULLs, not NULL — preserve image NULL-ness (insert
        # has no before, delete no after). The presence probe reads a
        # FIELD, not the struct root: `isnotnull(before)` would force
        # the scan to materialize every nested column, defeating
        # nested-schema pruning; probing the first merge key (non-null
        # in every present image by the wire contract — it is the row
        # identity) keeps the ReadSchema at exactly the projected fields.
        probe = S.MERGE_KEYS[0]
        return F.when(F.col(f"{colname}.{probe}").isNotNull(), inner)

    return raw.select(
        *_HEADER,
        align("before", before_schema).alias("before"),
        align("after", payload).alias("after"),
        "changed_cols",
        "schema_ver",
        *(["statement"] if "statement" in raw.columns else []),
    )


def unsigned_fixup(s: pd.Series, bits: int) -> pd.Series:
    """T7 — two's-complement reinterpretation for unsigned columns that
    a signed decoder mangled (processValue core/parser.go:1322-1360:
    negative raw value -> 1<<bits + v). Pure INTEGER arithmetic:

    - bits <= 32: the result fits int64, computed on nullable Int64
      (no float64 round-trip — values above 2^53 stay exact).
    - bits == 64: unsigned BIGINT does NOT fit int64 (the reference's
      MaxUint64 case, core/parser.go:1352-1358; SURVEY §1.2 maps it to
      DecimalType(20,0)) — returns decimal.Decimal objects, exact over
      the full uint64 range, ready for a DecimalType(20,0) column."""
    iv = s.astype("Int64")
    if bits < 64:
        return iv.mask(iv < 0, iv + (1 << bits))
    import decimal

    two64 = decimal.Decimal(1 << 64)
    # NB: not Series.map — pandas routes Int64 maps through float64,
    # corrupting values past 2^53. tolist() yields exact Python ints.
    out = [
        None if v is None or v is pd.NA
        else (decimal.Decimal(v) + two64 if v < 0 else decimal.Decimal(v))
        for v in iv.tolist()
    ]
    return pd.Series(out, index=s.index, dtype="object")


ZERO_DATE = "0000-00-00 00:00:00"


def decode_events_arrow(
    raw: DataFrame,
    schema_ver: int = S.LATEST_SCHEMA_VER,
    column_codecs: dict[str, object] | None = None,
) -> DataFrame:
    """Arrow decode: same output as decode_events, built in pandas.
    This is the per-type codec extension point (sources.codecs:
    datetime-µs + zero-date, exact decimal, ENUM/SET/BIT, binary WKB,
    JSON — cf. core/parser.go:1768-1858); `column_codecs` maps a payload
    column name to a vectorized `pd.Series -> pd.Series` normalizer
    applied to both images. For binlog JSON columns carried as raw JSONB
    binary, use `codecs.jsonb_codec` (full MySQL json_binary decode ->
    canonical text, goldens mirroring TestJsonV2
    core/parser_test.go:1075-1198); `codecs.json_codec` is the
    validation-only path for payloads the tailer already textified.

    The JSON parse is batch-level, not per-row: each Arrow batch's image
    column is joined into ONE JSON array string and parsed with a single
    C-level json.loads call, then handled columnarly."""
    payload = S.payload_schema(schema_ver)
    fields = [f.name for f in payload.fields]
    out_schema = S.envelope_schema(schema_ver)
    codecs = column_codecs or {}

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue

            def parse(col: pd.Series) -> pd.Series:
                # one C-level parse for the whole batch (NULL -> null)
                vals = col.tolist()
                blob = "[" + ",".join(
                    "null" if (v is None or (isinstance(v, float) and pd.isna(v))) else v
                    for v in vals
                ) + "]"
                dicts = json.loads(blob)
                if not codecs:
                    return pd.Series(
                        [None if d is None else {k: d.get(k) for k in fields} for d in dicts],
                        index=col.index,
                        dtype="object",
                    )
                # columnar codec pass: frame of only the present rows
                present_idx = [i for i, d in enumerate(dicts) if d is not None]
                frame = pd.DataFrame.from_records(
                    [dicts[i] for i in present_idx], columns=fields
                )
                for c, codec in codecs.items():
                    if c in frame.columns:
                        frame[c] = codec(frame[c])
                frame = frame.astype("object").where(frame.notna(), None)
                recs = frame.to_dict("records")
                out = [None] * len(dicts)
                for slot, rec in zip(present_idx, recs):
                    out[slot] = rec
                return pd.Series(out, index=col.index, dtype="object")

            res = pdf[_HEADER].copy()
            res["before"] = parse(pdf["before_json"])
            res["after"] = parse(pdf["after_json"])
            res["changed_cols"] = pdf["changed_cols"]
            res["schema_ver"] = pdf["schema_ver"]
            yield res

    return raw.mapInPandas(gen, schema=out_schema)
