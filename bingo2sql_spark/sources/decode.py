"""S2/T10 — decode raw wire events into the typed envelope.

The reference decodes binlog bytes row-at-a-time in Go
(parserFile core/parseFile.go:16-179; value handling
core/parser.go:1322-1360,1736-1874). Here the landing format is columnar
and decoding is one JVM projection per wire format:

- `decode_events`: scalar header columns + JSON-serialized row images
  (schema.RAW_EVENT, the binlog reader's and the JSON landings' wire)
  parsed by `from_json` — JVM-side, whole-stage codegen, schema from the
  registry. Per-type value handling (unsigned integers, decimals,
  temporals, ENUM/SET/BIT, JSONB) happens where the bytes are read, in
  sources.binlog_binary.
- `decode_events_typed`: row images already landed as typed structs
  (schema.RAW_EVENT_TYPED) — a pure projection, no parse at all.

Schema evolution (T10 upgraded): the decoder resolves each event's
schema_ver against the registry; columns absent in that version decode
as NULL (added-column NULL-fill), columns dropped from the target
version are projected away — instead of the reference's blacklist-and-
skip (checkCanParse core/parser.go:1242-1253).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from bingo2sql_spark import schema as S
from bingo2sql_spark.functions.sqltext import field, ident, sql_over, str_lit

_HEADER = [
    "seq", "log_file", "log_pos", "gtid_uuid", "gno", "ts",
    "thread_id", "db", "table", "op",
]


def decode_events(
    raw: DataFrame,
    schema_ver: int = S.LATEST_SCHEMA_VER,
    before_fields: list[str] | None = None,
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

    Images parse with mode=FAILFAST: a MALFORMED image raises on the
    first bad record with the offending text (the reference likewise
    hard-fails on unparseable binlog events) instead of from_json's
    PERMISSIVE default, under which it would become a struct of all-NULL
    fields and melt into a NULL-keyed upsert."""
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

    def img(json_col: str, schema) -> str:
        return f"from_json({json_col}, {str_lit(schema.json())}, map('mode', 'FAILFAST'))"

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
    typed NULL, extra field -> projected away) with expressions that
    stay inside whole-stage codegen. decode_events (JSON) remains
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

    def align(colname: str, schema) -> str:
        src = raw.schema[colname].dataType
        have = {f.name for f in src.fields}
        if [f.name for f in src.fields] == [f.name for f in schema.fields]:
            return ident(colname)  # exact wire/registry match: pass-through
        inner = ", ".join(
            (
                field(colname, f.name)
                if f.name in have
                else f"CAST(NULL AS {f.dataType.simpleString()})"
            )
            + f" AS {ident(f.name)}"
            for f in schema.fields
        )
        # Rebuilding a struct from a NULL struct's fields yields a
        # struct of NULLs, not NULL — preserve image NULL-ness (insert
        # has no before, delete no after). The presence probe reads a
        # FIELD, not the struct root: `isnotnull(before)` would force
        # the scan to materialize every nested column, defeating
        # nested-schema pruning; probing the first merge key (non-null
        # in every present image by the wire contract — it is the row
        # identity) keeps the ReadSchema at exactly the projected fields.
        probe = field(colname, S.MERGE_KEYS[0])
        return f"CASE WHEN {probe} IS NOT NULL THEN struct({inner}) END"

    # one statement: the projection costs a few gateway calls, not a
    # Column tree per field
    cols = [
        *map(ident, _HEADER),
        align("before", before_schema) + " AS `before`",
        align("after", payload) + " AS `after`",
        "changed_cols",
        "schema_ver",
        *(["statement"] if "statement" in raw.columns else []),
    ]
    return sql_over(raw, lambda rel: f"SELECT {', '.join(cols)} FROM {rel}")
