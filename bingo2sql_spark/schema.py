"""Event-envelope and payload schemas + schema registry.

Reference parity:
- envelope fields mirror what bingo2sql tracks per event: binlog file /
  position (core/parser.go:2244-2254), GTID uuid+gno
  (core/parser.go:2298-2305), timestamp + thread id
  (core/parser.go:2315-2320), db/table (core/parser.go:1141-1161), and
  the before/after row images — UPDATE events carry (before, after)
  pairs (core/parser.go:1414-1415 "update时, Rows为2的倍数").
- payload columns are pinned by BASELINE.json.input_hint:
  (repo, path, commit, lang, content) — the Iceberg source-code table.
- `Table`/`Column` schema registry (core/parser.go:36-91) becomes a
  versioned StructType registry broadcast to executors; schema drift
  (core/parser.go:1242-1253 blacklists drifted tables) is upgraded to
  real evolution: added column -> NULL-fill, dropped -> project away.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Payload (the replicated table of source-code repos)
# ---------------------------------------------------------------------------

#: Merge identity of the target table (reference: PK selection
#: core/parser.go:1658-1684; here pinned by input_hint).
MERGE_KEYS = ("repo", "path")

#: Ordering key within a merge key: (commit, seq) — commit strings are
#: lexically monotone in the synthetic stream; seq is the global binlog
#: order (file,pos) flattened.
ORDER_KEYS = ("commit", "seq")

PAYLOAD_FIELDS_V1 = [
    T.StructField("repo", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
    T.StructField("commit", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("content", T.StringType(), True),
]

#: Schema version 2 adds `branch` (schema-evolution scenario: added
#: column -> NULL-fill for v1 events).
PAYLOAD_FIELDS_V2 = PAYLOAD_FIELDS_V1 + [
    T.StructField("branch", T.StringType(), True),
]

PAYLOAD_V1 = T.StructType(PAYLOAD_FIELDS_V1)
PAYLOAD_V2 = T.StructType(PAYLOAD_FIELDS_V2)

#: Registry: schema_ver -> payload StructType. Broadcast-sized (tiny);
#: the event->schema resolution that the reference does per TableID with
#: a hash map (core/parser.go:1626-1644) is a broadcast join / metadata
#: lookup here.
SCHEMA_REGISTRY: dict[int, T.StructType] = {1: PAYLOAD_V1, 2: PAYLOAD_V2}

LATEST_SCHEMA_VER = 2


def payload_schema(schema_ver: int = LATEST_SCHEMA_VER) -> T.StructType:
    return SCHEMA_REGISTRY[schema_ver]


def payload_columns(schema_ver: int = LATEST_SCHEMA_VER) -> list[str]:
    return [f.name for f in SCHEMA_REGISTRY[schema_ver].fields]


# ---------------------------------------------------------------------------
# Envelope (one row per change event)
# ---------------------------------------------------------------------------

OP_INSERT = "insert"
OP_UPDATE = "update"
OP_DELETE = "delete"
OP_DDL = "ddl"

DML_OPS = (OP_INSERT, OP_UPDATE, OP_DELETE)


def envelope_schema(schema_ver: int = LATEST_SCHEMA_VER) -> T.StructType:
    """Debezium-style envelope; before/after are full row images.

    NULL rules (same as the reference's row-image semantics,
    core/parser.go:1415-1494): insert -> before IS NULL; delete ->
    after IS NULL; update -> both present. `changed_cols` carries the
    MINIMAL row-image column mask (core/parser_test.go:727-755): NULL
    means FULL image, a list means only those columns are populated in
    the images beyond the merge keys.
    """
    payload = payload_schema(schema_ver)
    return T.StructType(
        [
            T.StructField("seq", T.LongType(), False),
            T.StructField("log_file", T.StringType(), False),
            T.StructField("log_pos", T.LongType(), False),
            T.StructField("gtid_uuid", T.StringType(), True),
            T.StructField("gno", T.LongType(), True),
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("thread_id", T.LongType(), True),
            T.StructField("db", T.StringType(), False),
            T.StructField("table", T.StringType(), False),
            T.StructField("op", T.StringType(), False),
            T.StructField("before", payload, True),
            T.StructField("after", payload, True),
            T.StructField("changed_cols", T.ArrayType(T.StringType()), True),
            T.StructField("schema_ver", T.IntegerType(), False),
        ]
    )


ENVELOPE = envelope_schema()


# ---------------------------------------------------------------------------
# Raw wire schema (pre-decode, what a binlog tailer would land)
# ---------------------------------------------------------------------------

#: Raw events as a decoder-agnostic record: header columns are already
#: scalar (they come from the binlog event header), row images are
#: JSON-serialized strings (decode_events parses them into typed
#: structs; reference: value deserialization core/parser.go:1736-1874).
RAW_EVENT = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("log_file", T.StringType(), False),
        T.StructField("log_pos", T.LongType(), False),
        T.StructField("gtid_uuid", T.StringType(), True),
        T.StructField("gno", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("thread_id", T.LongType(), True),
        T.StructField("db", T.StringType(), False),
        T.StructField("table", T.StringType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("before_json", T.StringType(), True),
        T.StructField("after_json", T.StringType(), True),
        T.StructField("changed_cols", T.ArrayType(T.StringType()), True),
        T.StructField("schema_ver", T.IntegerType(), False),
    ]
)


#: Typed raw wire schema: identical to RAW_EVENT except the row images
#: are typed structs of the LATEST registry version (absent fields NULL)
#: instead of JSON strings — what a Debezium-style connector with a
#: schema registry lands when it keeps binlog values typed end-to-end.
#: Decoding this shape is a pure projection (decode_events_typed); the
#: JSON shape stays as the text-landing fallback. The binlog itself is
#: binary (core/parseFile.go:16-179) — a text round-trip is engine
#: overhead the reference never pays, so this is the recommended landing
#: format at scale.
RAW_EVENT_TYPED = ENVELOPE


# ---------------------------------------------------------------------------
# Column metadata registry (reference Column struct core/parser.go:36-65)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class ColumnMeta:
    """Per-column metadata the reference keeps on `Column`
    (core/parser.go:36-46): key membership (PRI / UNI ColumnKey),
    unsigned-ness, generated columns (excluded from emitted SQL,
    core/parser.go:49-56)."""

    name: str
    is_key: bool = False
    unsigned: bool = False
    generated: bool = False
    unique: bool = False
    #: declared MySQL type text, lowercased, e.g. "varchar(255)" /
    #: "bigint" / "decimal(10,2)" (InfoSchemaStr analog kept as text,
    #: core/parser.go:40). None when the meta was hand-constructed —
    #: type-change validation (ALTER MODIFY/CHANGE) is skipped then.
    ctype: str | None = None


@dataclass
class TableMeta:
    """Analog of reference `Table` (core/parser.go:68-78)."""

    db: str
    table: str
    schema_ver: int
    columns: list[ColumnMeta] = field(default_factory=list)

    @property
    def key_columns(self) -> list[str]:
        """PRI preferred, then UNIQUE columns (configPrimaryKey's
        PRI > UNI precedence, core/parser.go:2211-2237); fallback all
        columns when keyless (core/parser.go:1292-1305)."""
        keys = [c.name for c in self.columns if c.is_key]
        if keys:
            return keys
        uniq = [c.name for c in self.columns if c.unique]
        return uniq or [c.name for c in self.columns if not c.generated]

    @property
    def valid_columns(self) -> list[str]:
        """Generated columns excluded (ValidColumns core/parser.go:81-91)."""
        return [c.name for c in self.columns if not c.generated]

    def to_dict(self) -> dict:
        """JSON-serializable form — the streaming ingest persists the
        evolved registry entry beside the table so a checkpoint restart
        resumes with the post-DDL schema (streaming.pipeline)."""
        return {
            "db": self.db,
            "table": self.table,
            "schema_ver": self.schema_ver,
            "columns": [
                {
                    "name": c.name,
                    "is_key": c.is_key,
                    "unsigned": c.unsigned,
                    "generated": c.generated,
                    "unique": c.unique,
                    "ctype": c.ctype,
                }
                for c in self.columns
            ],
        }

    @classmethod
    def from_dict(cls, d: dict) -> "TableMeta":
        return cls(
            db=d["db"],
            table=d["table"],
            schema_ver=int(d["schema_ver"]),
            columns=[ColumnMeta(**c) for c in d["columns"]],
        )
