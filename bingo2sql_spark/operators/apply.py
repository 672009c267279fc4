"""MERGE-style upsert sink: an Iceberg-lite snapshot/manifest table.

The real deployment target is `MERGE INTO` an Iceberg table; the sandbox
has no Iceberg jars, so this module implements the same observable
semantics on plain parquet (SURVEY.md §7.3) with Iceberg's architecture
in miniature:

- data files are immutable, grouped into snapshots:
  `data/snap-<version>-<attempt-uuid>/pbucket=<b>/part-*.parquet` —
  the uuid makes each WRITER ATTEMPT's dir unique, so optimistic
  writers racing one version can never clobber or interleave files
  before the manifest CAS decides the winner (the manifest's
  `snap_dirs` maps each version it references to the winning dir;
  losers' dirs are orphans expire_snapshots reclaims)
- a manifest (JSON, atomically renamed into place) maps every bucket to
  the snapshot that currently owns it, carries the committed-batch set
  (idempotence / exactly-once), per-bucket lineage (max binlog position
  -> snapshot, per the north rule "per-partition lineage: source log
  position -> Iceberg snapshot"), and the evolving column list.

Merge semantics: last-writer-wins BY SOURCE LOG POSITION, with retained
tombstones (Iceberg delete-file analog):

    winners(key) = argmax_seq( current-rows ∪ batch-rows )

Stored rows keep the writer's binlog seq (`_ingest_seq`); DELETE winners
are kept as `_deleted` tombstone rows so that a late-arriving older
event can never resurrect a deleted key. This makes the sink a LWW
register per key — commits CONVERGE under any micro-batch delivery
order, duplicate delivery (batch_ids already committed are skipped), and
replay from any checkpoint (north rule). Flashback batches participate
correctly because commit(rebase_past_head=True) REBASES their seqs past
the current log head (a rollback executed against MySQL is new binlog
traffic with new positions — same model). Only an explicit `compact()`
drops tombstones, once no older replays are in flight.

Scale design (10^10 events, 100 TB table):
- hash-bucketed by (repo, path) into `n_buckets`; a commit rewrites ONLY
  buckets its batch touches (manifest-level pruning — untouched buckets
  are never listed, let alone read): the Iceberg copy-on-write MERGE
  shape. Bucketing the *composite* key spreads hot repos.
- `write_mode="mor"` switches commits to MERGE-ON-READ (Hudi /
  Iceberg-v2 delete-file shape): append one per-bucket delta file of
  batch winners — O(batch) per commit, stored data never read — and
  reconcile base ∪ deltas at read time. A commit onto a table whose
  longest delta list holds `max_delta_depth` deltas, or whose recorded
  read amplification exceeds `max_read_amplification`, FOLDS instead:
  its merge writes fresh bases from base ∪ deltas ∪ batch. `compact()`
  is that fold without batch rows. The right mode when micro-batches
  are small relative to bucket data.
- every write is ONE bucket exchange of unresolved stored ∪ batch rows
  feeding a per-(bucket, key) max_by aggregate (see _lww_merge). The
  exchange names no partition count and deals the commit's buckets
  round-robin over its initial partitions: each bucket lands in exactly
  one task, and AQE merges small partitions, so the write tasks are
  sized by the bytes they write (a small MOR delta writes from one
  task; a large merge spreads evenly over the cores).
- crash safety: the manifest rename is the commit point; data of a
  failed commit is never referenced (orphans, GC-able).

Reference parity: replaces bingo2sql's single-writer ordered SQL file
sink (ProcessChan/myWrite core/parser.go:844-857,672-727) with an
LWW-by-seq, merge-into-table sink.
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
import uuid as _uuid
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bingo2sql_spark import schema as S
from bingo2sql_spark.functions.sqltext import ident, str_lit

MANIFEST_DIR = "_manifests"
DATA_DIR = "data"


class ConcurrentCommitError(RuntimeError):
    """Another writer committed the same snapshot version first
    (optimistic concurrency — caller re-reads and retries)."""
#: per-row provenance is stored in the table: the writer's log seq and
#: source binlog position (per-partition lineage falls out of parquet
#: column stats over these — no extra pass).
INTERNAL_COLS = ("_ingest_seq", "_deleted", "_log_file", "_log_pos", "bucket")


#: internal columns that ride inside the LWW winner struct (bucket is a
#: GROUPING key of the merge — it is a pure function of the merge keys)
INTERNAL_NO_BUCKET = tuple(c for c in INTERNAL_COLS if c != "bucket")


def _name_translate(expr, mapping: dict[str, str]):
    """when-chain over a string expression translating old column names
    to new (rename support for per-column attribution metadata)."""
    out = None
    for old, new in mapping.items():
        cond = expr == F.lit(old)
        out = F.when(cond, F.lit(new)) if out is None else out.when(cond, F.lit(new))
    return expr if out is None else out.otherwise(expr)


def _translate_partial_meta(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """After a column rename, `_col_seqs` keys written under the OLD
    name must read as the new one: rewritten in place (pure
    expression, no shuffle)."""
    if not mapping or "_col_seqs" not in df.columns:
        return df
    return df.withColumn(
        "_col_seqs",
        F.transform_keys("_col_seqs", lambda k, _v: _name_translate(k, mapping)),
    )


def _conform(df: DataFrame, all_cols: list[str], partial: bool) -> DataFrame:
    """One merge input — stored rows or batch rows — in the merge's
    layout: `all_cols` in table order (a column the input lacks
    NULL-fills: schema evolution), the internal columns, and on the
    per-column path `_col_seqs` (NULL = every column written at the
    row seq)."""

    def col(c: str, dtype: str = "string"):
        return F.col(c) if c in df.columns else F.lit(None).cast(dtype).alias(c)

    extras = [col("_col_seqs", "map<string,bigint>")] if partial else []
    return df.select(*map(col, all_cols), *INTERNAL_COLS, *extras)


def _per_key_winners(df: DataFrame, all_cols: list[str], partial: bool) -> DataFrame:
    """Collapse rows to per-(bucket, key) LWW winners — shared by the
    commit MERGE and the MOR read-time reconciliation.

    partial=False: row-level max_by over _ingest_seq.

    partial=True — the MINIMAL row-image path: per-COLUMN
    last-present-writer over `_col_seqs: map<col, seq>`, the one
    per-column encoding of batch rows, stored bases and MOR deltas
    alike. A column is present in a row unless the row is deleted or
    its map marks the column never-written; an update carries only its
    changed columns (resolve.to_upsert_rows marks the rest), and insert
    images are complete, so pre-delete values can never leak.

    PER-COLUMN SEQ ATTRIBUTION: partial output rows always carry the
    map — the seq of the contributor that actually wrote each column —
    and collapsed rows re-entering a later merge use the MAP, not the
    row-level max, as each column's seq. That makes MINIMAL-image state
    order-independent ACROSS commits too: an out-of-order replay with
    an interleaving seq wins or loses each column against the column's
    true writer. A delta row stores the same map, so the read-time
    merge knows which columns it carries.

    SPARSE ENCODING: the map only materializes the EXCEPTIONS — a
    column whose winning seq differs from the row-level winner seq
    keeps its entry, and a never-written (NULL-since-birth or not
    carried) column keeps a NULL-valued entry (it must lose to ANY real
    writer). A column ABSENT from the map, or any column of a row whose
    map is NULL (a full image, a file written before the table went
    per-column), was written by the row at its `_ingest_seq`, so after
    single-writer or full-image commits the map is empty. Dense maps
    decode to the same answer.

    A `bucket_slot` column (_lww_merge's placement, a function of
    bucket) joins the grouping keys, so the aggregate reuses the
    exchange on it; the output drops it."""
    data_cols = [c for c in all_cols if c not in S.MERGE_KEYS]
    slot = ["bucket_slot"] if "bucket_slot" in df.columns else []
    if not partial:
        winner = F.max_by(
            F.struct(*data_cols, *INTERNAL_NO_BUCKET), F.col("_ingest_seq")
        ).alias("_w")
        return (
            df.groupBy(*slot, "bucket", *S.MERGE_KEYS)
            .agg(winner)
            .select(*S.MERGE_KEYS, "_w.*", "bucket")
            .select(*all_cols, *INTERNAL_COLS)
        )
    seq = F.col("_ingest_seq")
    seqs = F.col("_col_seqs")
    aggs = [F.max_by(F.struct(*INTERNAL_NO_BUCKET), seq).alias("_w")]
    for c in data_cols:
        entry = seqs.getItem(c)
        # sparse decode: a NULL-VALUED entry marks never-written; an
        # absent key (or a NULL map) means the row wrote it at its seq
        listed = F.coalesce(F.map_contains_key(seqs, F.lit(c)), F.lit(False))
        present = ~F.col("_deleted") & ~(listed & entry.isNull())
        aggs.append(
            F.max(
                F.when(
                    present,
                    F.struct(F.coalesce(entry, seq).alias("s"), F.col(c).alias("v")),
                )
            ).alias(f"_pw_{c}")
        )
    if data_cols:
        # sparse emission: keep only exception entries — NULL seq
        # (never-written marker) or a winner older than the row winner;
        # everything else is implied by the row's _ingest_seq
        row_seq = F.col("_w")["_ingest_seq"]
        col_seqs = F.map_filter(
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in data_cols]),
                F.array(*[F.col(f"_pw_{c}")["s"] for c in data_cols]),
            ),
            lambda _k, v: v.isNull() | (v != row_seq),
        ).alias("_col_seqs")
    else:
        col_seqs = F.lit(None).cast("map<string,bigint>").alias("_col_seqs")
    return (
        df.groupBy(*slot, "bucket", *S.MERGE_KEYS)
        .agg(*aggs)
        .select(
            *S.MERGE_KEYS,
            *[F.col(f"_pw_{c}")["v"].alias(c) for c in data_cols],
            "_w.*",
            "bucket",
            col_seqs,
        )
        .select(*all_cols, *INTERNAL_COLS, "_col_seqs")
    )


def _murmur3_int(k: int) -> int:
    """Spark's hash() of an int column: Murmur3_x86_32.hashInt(k, 42),
    the hash HashPartitioning takes pmod of."""

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & 0xFFFFFFFF

    k1 = rotl((k & 0xFFFFFFFF) * 0xCC9E2D51 & 0xFFFFFFFF, 15) * 0x1B873593 & 0xFFFFFFFF
    h = (rotl(42 ^ k1, 13) * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4  # the input's length in bytes
    h = (h ^ (h >> 16)) * 0x85EBCA6B & 0xFFFFFFFF
    h = (h ^ (h >> 13)) * 0xC2B2AE35 & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >= 1 << 31 else h


@functools.lru_cache(maxsize=None)
def _slot_keys(n: int) -> tuple[int, ...]:
    """For each partition j < n of a hash exchange over one int column,
    the smallest non-negative int key HashPartitioning sends to j:
    pmod(hash(k), n) == j."""
    first: dict[int, int] = {}
    k = 0
    while len(first) < n:
        first.setdefault(_murmur3_int(k) % n, k)
        k += 1
    return tuple(first[j] for j in range(n))


def _lww_merge(
    inputs: list[DataFrame], all_cols: list[str], partial: bool, affected: list[int]
) -> DataFrame:
    """The one write-side MERGE plan of commit and compact(): unresolved
    inputs (stored scan and/or batch rows, all in the `affected`
    buckets) unioned into ONE `repartition(bucket_slot)` exchange
    feeding _per_key_winners. `bucket_slot` is a function of bucket,
    and bucket of the merge keys, so that partitioning satisfies the
    aggregate's clustered distribution (no second exchange) and the
    output stays clustered for the pbucket-partitioned write: each
    bucket in exactly one task, so one file per bucket.

    No partition count is given: AQE merges small partitions, sizing
    each write task by its shuffle bytes, so a small delta writes from
    one task. Every file-writing task pays a fixed cost (its closure
    carries the writer's Hadoop Configuration), which a fixed count
    pays per empty or tiny partition.

    Placement: hashing bucket ids straight onto the exchange's n
    initial partitions (`spark.sql.shuffle.partitions`) collides — 64
    buckets over 4 partitions land 21/16/16/11 — and AQE cannot split
    a partition, so a merge large enough to spread over the cores is
    as slow as its fullest task. `bucket_slot` deals the affected
    buckets round-robin instead: the i-th gets the key of partition
    i mod n (_slot_keys), so partitions differ by at most one bucket
    and AQE's neighbour merging packs them evenly."""
    both = functools.reduce(
        DataFrame.unionByName, [_conform(d, all_cols, partial) for d in inputs]
    )
    conf = both.sparkSession._jsparkSession.sessionState().conf()
    keys = _slot_keys(conf.numShufflePartitions())  # the exchange's initial count
    slot_of = [0] * (max(affected) + 1)
    for i, b in enumerate(affected):
        slot_of[b] = keys[i % len(keys)]
    slot = F.element_at(F.array(*map(F.lit, slot_of)), F.col("bucket") + 1)
    placed = both.withColumn("bucket_slot", slot).repartition("bucket_slot")
    return _per_key_winners(placed, all_cols, partial)


def _referenced(buckets: dict[str, int], deltas: dict[str, list[int]]) -> set[int]:
    """The snapshot versions a manifest's buckets and deltas read."""
    return set(buckets.values()).union(*deltas.values())


def _read_amplification(bucket_rows: dict[str, dict[str, int]]) -> float:
    """A manifest's measured read amplification: the worst bucket's
    delta rows over its base rows (at least 1), from footer stats."""
    return max((br["delta"] / max(br["base"], 1) for br in bucket_rows.values()), default=0.0)


def bucket_col(n_buckets: int):
    """Deterministic bucket of the composite merge key. Hashing the
    composite (repo, path) — not repo alone — is what defuses hot-repo
    skew (SURVEY.md §7.4#5)."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in S.MERGE_KEYS]), F.lit(n_buckets)).cast("int")


def _key_literal(v: Any) -> str:
    """One read_keys key component as SQL text of the stored merge-key
    type (string). Non-string values are cast in the JVM (ADVICE r4):
    xxhash64 over e.g. a long differs from the hash of its string form,
    so an uncast int would silently miss its bucket and its row."""
    if v is None:
        return "CAST(NULL AS STRING)"
    if isinstance(v, str):
        return str_lit(v)
    if isinstance(v, int):
        # bool included: str(True) is the SQL boolean literal TRUE
        return f"CAST({v} AS STRING)"
    if isinstance(v, float):
        return f"CAST(CAST({str_lit(repr(v))} AS DOUBLE) AS STRING)"
    raise TypeError(
        f"read_keys key components must be str, int, float or None, "
        f"not {type(v).__name__}"
    )


class _Columns(NamedTuple):
    """Commit phase 1's output: the column layout after this batch's DDL."""

    all_cols: list[str]  #: the manifest's columns after the commit
    aliases: dict[str, list[str]]  #: current name -> pre-rename spellings
    dropped: set[str]  #: stored columns this batch DROPs
    renames: dict[str, str]  #: old -> new name (CHANGE COLUMN)
    rewrite_all: bool  #: a dropped name is re-introduced: rewrite every bucket


class _Scope(NamedTuple):
    """Commit phase 2's output: the batch rows and what they touch."""

    rows: DataFrame  #: bucketed batch rows, `_seq` as `_ingest_seq` (rebased)
    affected: list[int]  #: buckets the merge rewrites
    partial: bool  #: per-column (MINIMAL-image) merge
    counts: dict[str, int] | None  #: exact rows/deletes from the pre-pass
    observation: Observation | None  #: ...or from the merge job
    #: why the merge folds every delta into new bases ("delta_depth",
    #: "read_amplification", "manual" for compact()); None = no fold
    fold: str | None


class IcebergLiteTable:
    """See module docstring. `write_mode`:

    - "cow" (default) — copy-on-write: each commit REWRITES the buckets
      its batch touches (merge + write). Reads are raw file scans.
      Right when commits are large relative to bucket size, or reads
      dominate.
    - "mor" — merge-on-read (the Hudi/Iceberg-v2 delete-file shape):
      each commit APPENDS one delta file per touched bucket containing
      only the batch's per-key winners — commit cost is O(batch), never
      O(bucket data), which is what lets a micro-batch cadence survive
      a 100 TB table. Reads reconcile base ∪ deltas with the same LWW
      max_by (read amplification is the trade); a fold or `compact()`
      merges deltas back into fresh bases. Correctness (tombstones, LWW,
      exactly-once, time-travel, changelog) is identical by
      construction — both modes converge to the same state_checksum.
    """

    def __init__(
        self,
        path: str,
        n_buckets: int = 64,
        write_mode: str = "cow",
        max_delta_depth: int | None = None,
        max_read_amplification: float | None = None,
    ):
        if write_mode not in ("cow", "mor"):
            raise ValueError(f"write_mode must be 'cow' or 'mor', got {write_mode!r}")
        self.path = path
        self.n_buckets = n_buckets
        self.write_mode = write_mode
        #: MOR maintenance policy (the Hudi "inline compaction" knob): a
        #: commit onto a table whose longest delta list already holds
        #: this many deltas folds them in its own merge (see
        #: _scope_batch) — bounds read amplification without an external
        #: maintenance job. None = manual compaction only.
        self.max_delta_depth = max_delta_depth
        #: MOR maintenance policy #2: a commit onto a table whose
        #: MEASURED read amplification (_read_amplification over the
        #: manifest's footer-stat row counts) exceeds this ratio folds
        #: too. Depth alone misses a couple of LARGE deltas (replays,
        #: backfills) doubling every read at depth 2. Either policy
        #: fires on the commit after the one that crosses it; both keep
        #: tombstones.
        self.max_read_amplification = max_read_amplification
        os.makedirs(os.path.join(path, MANIFEST_DIR), exist_ok=True)

    # -- manifest bookkeeping ------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, MANIFEST_DIR, f"manifest-{version:012d}.json")

    def latest_manifest(self) -> dict[str, Any] | None:
        vs = self.versions()
        return self.manifest_at(vs[-1]) if vs else None

    def manifest_at(self, version: int) -> dict[str, Any] | None:
        """Time-travel: the manifest of snapshot `version` (None if it
        was never committed or has been expired)."""
        p = self._manifest_path(version)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def versions(self) -> list[int]:
        d = os.path.join(self.path, MANIFEST_DIR)
        return sorted(
            int(n[len("manifest-"):-len(".json")])
            for n in os.listdir(d)
            if n.startswith("manifest-") and n.endswith(".json")
        )

    def _write_manifest(self, m: dict[str, Any]) -> None:
        """Commit point: temp file + atomic LINK to the versioned name.
        os.link fails with EEXIST when another writer already claimed
        this version — the optimistic-concurrency CAS real Iceberg gets
        from its catalog swap. A plain rename would silently OVERWRITE
        the concurrent winner's manifest, losing its commit."""
        final = self._manifest_path(m["version"])
        tmp = final + f".tmp-{_uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(m, f)
        try:
            os.link(tmp, final)
        except FileExistsError as e:
            raise ConcurrentCommitError(
                f"snapshot {m['version']} was committed by another writer; "
                "re-read the table and retry the merge"
            ) from e
        finally:
            os.unlink(tmp)

    # -- read path -------------------------------------------------------------

    @staticmethod
    def _state_schema(columns: list[str], with_col_seqs: bool = False) -> T.StructType:
        fields = [T.StructField(c, T.StringType(), True) for c in columns]
        fields += [
            T.StructField("_ingest_seq", T.LongType(), True),
            T.StructField("_deleted", T.BooleanType(), True),
            T.StructField("_log_file", T.StringType(), True),
            T.StructField("_log_pos", T.LongType(), True),
            T.StructField("bucket", T.IntegerType(), True),
        ]
        if with_col_seqs:
            # per-column seq attribution (see _per_key_winners): files
            # written before the table went partial NULL-fill = every
            # column attributed to the row seq
            fields.append(
                T.StructField(
                    "_col_seqs", T.MapType(T.StringType(), T.LongType()), True
                )
            )
        return T.StructType(fields)

    def _empty_state(self, spark: SparkSession, columns: list[str]) -> DataFrame:
        """The empty table state, built in the JVM: the optimizer folds
        `LIMIT 0` to an empty LocalRelation and PropagateEmptyRelation
        drops it from a merge union, so a fresh table's first commit
        plans the batch alone and starts no tasks for this side."""
        cols = ", ".join(
            f"CAST(NULL AS {f.dataType.simpleString()}) AS {ident(f.name)}"
            for f in self._state_schema(columns).fields
        )
        return spark.sql(f"SELECT {cols} LIMIT 0")

    def _scan(
        self,
        spark: SparkSession,
        m: dict[str, Any] | None,
        buckets: list[int] | None = None,
        time_travel: bool = False,
    ) -> tuple[DataFrame, bool]:
        """Stored rows of manifest `m` incl. internal cols, UNRESOLVED:
        every base and delta file of the chosen buckets (`buckets`
        prunes at the manifest level) in one parquet scan under current
        column names, plus `_col_seqs` when the manifest's sticky
        `partial_state` says a per-column write ever reached the table
        (NULL for rows of files without it: every column at the row
        seq). Returns (rows, whether a delta is scanned). _read_raw
        resolves them; commit and compact() feed them straight into
        _lww_merge."""
        cols = (m or {}).get("columns", S.payload_columns())
        base = (m or {}).get("buckets", {})
        deltas = (m or {}).get("deltas", {})
        if not m or not (base or deltas):
            return self._empty_state(spark, cols), False
        all_bk = sorted(set(base) | set(deltas), key=int)
        if buckets is not None:
            want = {str(b) for b in buckets}
            all_bk = [b for b in all_bk if b in want]
        # per-writer-ATTEMPT data dirs (see _write_snapshot): the manifest
        # maps every version it references to its dir
        def _p(v: int, b: str) -> str:
            return os.path.join(self.path, DATA_DIR, m["snap_dirs"][str(v)], f"pbucket={b}")

        paths, has_deltas = [], False
        for b in all_bk:
            if b in base:
                paths.append(_p(base[b], b))
            for v in deltas.get(b, []):
                paths.append(_p(v, b))
                has_deltas = True
        if time_travel:
            missing = [p for p in paths if not os.path.isdir(p)]
            if missing:
                raise ValueError(
                    f"snapshot {m['version']} data expired (expire_snapshots removed "
                    f"{len(missing)} bucket dirs) — time-travel unavailable"
                )
        paths = [p for p in paths if os.path.isdir(p)]
        if not paths:
            return self._empty_state(spark, cols), False
        # EXPLICIT union schema from the manifest: snapshots written before
        # a schema evolution lack the new columns, and an unconstrained
        # parquet read adopts one random file's footer — silently DROPPING
        # the new column's values from every file that has them. With the
        # declared schema the reader NULL-fills missing columns per file
        # (no mergeSchema footer sweep needed — the manifest already knows
        # the union).
        partial = bool(m.get("partial_state"))
        # column-rename support (Iceberg name-mapping analog, no field
        # IDs needed because old and new names never coexist live): the
        # manifest's `aliases` maps each current column to the names it
        # had in data files written BEFORE its rename(s). Those files
        # are scanned WITH the old names in the declared schema (each
        # file NULL-fills whichever spelling it lacks), then per row the
        # single non-NULL spelling coalesces into the current name — a
        # pure projection, so a 100 TB table renames a column without
        # rewriting a byte.
        aliases = {
            c: [o for o in olds]
            for c, olds in (m.get("aliases") or {}).items()
            if c in cols
        }
        alias_olds = [o for olds in aliases.values() for o in olds]
        df = spark.read.schema(
            self._state_schema(cols + alias_olds, with_col_seqs=partial)
        ).parquet(*paths)
        if alias_olds:
            for c, olds in aliases.items():
                df = df.withColumn(c, F.coalesce(F.col(c), *[F.col(o) for o in olds]))
            df = df.drop(*alias_olds)
            df = _translate_partial_meta(
                df, {o: c for c, olds in aliases.items() for o in olds}
            )
        extras = ["_col_seqs"] if partial else []
        return df.select(*cols, *INTERNAL_COLS, *extras), has_deltas

    def _read_raw(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Stored rows incl. internal cols, one row per key; `version`
        time-travels to that snapshot's manifest (data files are
        immutable, so any retained manifest is readable — the Iceberg
        snapshot-isolation property). MERGE-ON-READ: a scan holding
        deltas resolves to per-key LWW winners HERE, so every reader
        sees register semantics regardless of write mode."""
        m = self.manifest_at(version) if version is not None else self.latest_manifest()
        if version is not None and m is None:
            raise ValueError(f"snapshot {version} does not exist (see versions())")
        df, has_deltas = self._scan(spark, m, buckets, time_travel=version is not None)
        if not has_deltas:
            return df
        return _per_key_winners(df, m["columns"], partial="_col_seqs" in df.columns)

    def read(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Live table state (tombstones filtered, internal columns
        hidden except bucket); `version` time-travels to a snapshot."""
        df = self._read_raw(spark, buckets, version=version)
        hidden = {"_ingest_seq", "_deleted", "_log_file", "_log_pos", "_col_seqs"}
        return df.filter(~F.col("_deleted")).select(
            *[c for c in df.columns if c not in hidden]
        )

    def read_keys(
        self,
        spark: SparkSession,
        keys: list[tuple],
        version: int | None = None,
    ) -> DataFrame:
        """Point lookups: live rows for exactly `keys` (merge-key
        tuples), reading ONLY the buckets that own them — at 64 buckets
        a one-key lookup scans 1/64th of the table, and k keys scan at
        most min(k, n_buckets) buckets, independent of table size (the
        Iceberg bucket-transform point-read story).

        The owning bucket is hash(composite key) — computed with the
        same JVM xxhash64 expression the writer used (bucket_col), so
        driver and executor hashing can never diverge. The key literals
        enter the plan as a LocalRelation and the bucket projection over
        it folds on the driver, so the lookup starts no job of its own.
        The exact-key filter is a broadcast LEFT SEMI join (no shuffle
        of the table side)."""
        if not keys:
            return self.read(spark, buckets=[])
        rows = ", ".join(f"({', '.join(_key_literal(v) for v in k)})" for k in keys)
        names = ", ".join(ident(k) for k in S.MERGE_KEYS)
        kdf = spark.sql(f"SELECT * FROM VALUES {rows} AS t({names})")
        bks = sorted({r[0] for r in kdf.select(bucket_col(self.n_buckets)).collect()})
        df = self.read(spark, buckets=bks, version=version)
        return df.join(F.broadcast(kdf), on=list(S.MERGE_KEYS), how="left_semi")

    def changes_between(
        self, spark: SparkSession, from_version: int, to_version: int
    ) -> DataFrame:
        """Changelog feed between two snapshots (Iceberg
        `create_changelog_view` analog): one row per key whose LIVE
        state differs, with op in {insert, update, delete} and both
        images. Implemented as a full-outer key join of the two
        time-travel reads — correct for any version gap because the
        table is an LWW register per key (intermediate churn inside the
        gap is intentionally collapsed, exactly like Iceberg's net
        changes mode).

        Scale: the scan is pruned at the MANIFEST level to buckets whose
        bucket->snapshot entry differs between the two versions — data
        files are immutable, so an unchanged entry means byte-identical
        bucket contents (an incremental v->v+1 diff reads only the
        buckets that commit touched, not two full table scans). Both
        sides then share the (repo,path) bucket layout, so the join
        shuffles once each side and AQE coalesces.

        The diff compares PAYLOAD columns only: a key re-upserted with a
        byte-identical row between the snapshots is NOT an update, and
        the internal `_ingest_seq` lineage column never leaks into the
        changelog output (ADVICE r2)."""
        mf, mt = self.manifest_at(from_version), self.manifest_at(to_version)
        if mf is None or mt is None:
            missing = from_version if mf is None else to_version
            raise ValueError(f"snapshot {missing} does not exist (see versions())")
        def _sig(doc: dict[str, Any], b: str):
            # a bucket's contents are pinned by (base snapshot, delta list)
            return (doc.get("buckets", {}).get(b), tuple(doc.get("deltas", {}).get(b, [])))

        bks = set(mf.get("buckets", {})) | set(mt.get("buckets", {}))
        bks |= set(mf.get("deltas", {})) | set(mt.get("deltas", {}))
        changed = sorted(int(b) for b in bks if _sig(mf, b) != _sig(mt, b))
        old = self._read_raw(spark, buckets=changed, version=from_version).filter(
            ~F.col("_deleted")
        )
        new = self._read_raw(spark, buckets=changed, version=to_version).filter(
            ~F.col("_deleted")
        )
        payload = [c for c in new.columns if not c.startswith("_") and c != "bucket"]
        # schema drift across the gap (ADVICE r7): the old side was read
        # under ITS OWN manifest, so a column renamed inside the gap
        # still carries its old spelling there — translate it through the
        # to-version's alias map (the newest spelling the old read knows
        # wins; older ones were already coalesced by old's own read), and
        # NULL-fill columns ADDED inside the gap. Columns dropped inside
        # the gap simply leave the comparison (current-schema changelog,
        # Iceberg semantics). Without this, old.select(struct(*data))
        # raises AnalysisException on any rename-spanning diff.
        to_aliases = mt.get("aliases") or {}
        for c in payload:
            if c in old.columns:
                continue
            carried = next(
                (o for o in to_aliases.get(c, []) if o in old.columns), None
            )
            if carried is not None:
                old = old.withColumnRenamed(carried, c)
            else:
                old = old.withColumn(c, F.lit(None).cast("string"))
        keys = list(S.MERGE_KEYS)
        data = [c for c in payload if c not in keys]
        o = old.select(*keys, F.struct(*data).alias("_old"))
        n = new.select(*keys, F.struct(*data).alias("_new"))
        j = o.join(n, keys, "full_outer")
        op = (
            F.when(F.col("_old").isNull(), F.lit("insert"))
            .when(F.col("_new").isNull(), F.lit("delete"))
            .otherwise(F.lit("update"))
        )
        return (
            j.select(*keys, op.alias("op"), "_old", "_new")
            .filter(
                F.col("_old").isNull()
                | F.col("_new").isNull()
                | (F.col("_old") != F.col("_new"))
            )
            .withColumnRenamed("_old", "before")
            .withColumnRenamed("_new", "after")
        )

    def head_seq(self) -> int:
        """Highest source log seq the table has absorbed (from lineage);
        0 for an empty table. Used to rebase flashback batches."""
        m = self.latest_manifest()
        if not m or not m.get("lineage"):
            return 0
        seqs = [int(v["max_seq"]) for v in m["lineage"].values() if v.get("max_seq") is not None]
        return max(seqs) if seqs else 0

    # -- write path --------------------------------------------------------------

    def commit(
        self,
        batch: DataFrame,
        batch_id: str,
        rebase_past_head: bool = False,
        drop_columns: list[str] | None = None,
        rename_columns: dict[str, str] | None = None,
    ) -> dict[str, Any]:
        """Idempotent, convergent MERGE of one micro-batch.

        `batch` is upsert rows (resolve.to_upsert_rows): payload columns,
        `_deleted` tombstones, `_seq`/`_log_file`/`_log_pos`. Keys may
        repeat (many events per key in the batch) — the merge groupBy IS
        the LWW resolution, so no separate pre-resolve pass or shuffle
        is needed. Returns per-batch metrics (the reference's websocket
        progress push analog, core/socket.go:34-76).

        Four phases, one method each: _evolve_columns (the DDL plan, no
        job), _scope_batch (bucketing, pruning pre-pass or Observation,
        flashback rebase, the MOR fold decision), _merge_and_write (ONE
        merge job with ONE full-data exchange) and _next_manifest
        (lineage, metrics and the manifest CAS — the commit point).
        """
        t0 = time.time()
        m = self.latest_manifest() or {"version": 0, "buckets": {}, "columns": []}
        if self._already_committed(m, batch_id):
            return {"batch_id": batch_id, "skipped": True, "reason": "already committed"}
        self._check_n_buckets(m)
        cols = self._evolve_columns(m, batch, drop_columns, rename_columns)
        scope = self._scope_batch(m, batch, batch_id, cols, rebase_past_head)
        snap_name, written = self._merge_and_write(m, cols, scope)
        return self._next_manifest(m, batch_id, cols, scope, snap_name, written, t0)

    def _check_n_buckets(self, m: dict[str, Any]) -> None:
        """Bucket count is part of the table's physical identity: rows
        bucketed with a DIFFERENT n_buckets than the stored rows would
        land the same key in two (bucket, key) merge groups — silent
        per-key duplicates. Stored in the manifest; mismatches are loud."""
        stored_n = m.get("n_buckets")
        if stored_n is not None and stored_n != self.n_buckets:
            raise ValueError(
                f"table at {self.path} was created with n_buckets={stored_n}, "
                f"opened with n_buckets={self.n_buckets}; rebucketing requires a "
                "full rewrite (read -> new table), not a commit"
            )

    def _evolve_columns(
        self,
        m: dict[str, Any],
        batch: DataFrame,
        drop_columns: list[str] | None,
        rename_columns: dict[str, str] | None,
    ) -> _Columns:
        """Phase 1 — the commit's column layout: the manifest's columns
        after this batch's DROPs and renames, unioned with the batch's
        own payload columns (schema evolution), plus the checks that
        keep the lazy (no-rewrite) DDL sound.

        DROPs apply BEFORE renames (ADVICE r7): MySQL permits `ALTER
        TABLE t DROP x, CHANGE y x ...` in one statement — the drop must
        vacate the name before the rename claims it, or the collision
        check rejects a legal DDL sequence."""
        payload_cols = [c for c in batch.columns if not c.startswith("_")]
        stored_cols = list(m["columns"])
        aliases = {c: list(v) for c, v in (m.get("aliases") or {}).items()}
        # DDL-driven DROP COLUMN (VERDICT r5 #4): the column leaves the
        # CURRENT schema — rewritten buckets omit it physically,
        # untouched buckets keep old files but every read projects the
        # manifest's column list, so it disappears everywhere at this
        # snapshot while time travel to older versions still shows it
        # (Iceberg drop-column semantics). Merge keys are the table's
        # identity and cannot be dropped.
        doomed = {c.lower() for c in drop_columns or ()}
        if any(k.lower() in doomed for k in S.MERGE_KEYS):
            raise ValueError(f"cannot drop merge key column(s): {sorted(doomed)}")
        dropped = {c for c in stored_cols if c.lower() in doomed}
        stored_cols = [c for c in stored_cols if c not in dropped]
        # DDL-driven CHANGE COLUMN (VERDICT r6 #2): stored values carry
        # to the new name WITHOUT rewriting untouched buckets — the
        # manifest records the old spelling(s) per current column and
        # _read_raw coalesces them at scan time (time travel to older
        # snapshots keeps the old name via that snapshot's own
        # manifest). Merge keys are the table's identity: renaming one
        # would silently re-key every stored row, so it's loud.
        renames = rename_columns or {}
        for old, new in renames.items():
            if old.lower() in {k.lower() for k in S.MERGE_KEYS}:
                raise ValueError(f"cannot rename merge key column {old!r}")
            # a column never stored (fresh table, or no prior batch
            # carried it) has nothing to carry, so no alias: the batch's
            # own projection already writes the new name. A rename
            # TARGET dropped in this same batch (DROP x, CHANGE y x)
            # gets no alias either: pre-drop data files still hold the
            # name physically, so the NULL-coalescing alias would
            # resurrect dropped values wherever the carried column is
            # NULL — the reuse check below forces a full rewrite instead.
            if old in stored_cols and new.lower() not in {d.lower() for d in dropped}:
                aliases[new] = [old] + aliases.pop(old, [])
        stored_cols = [renames.get(c, c) for c in stored_cols]
        if len(set(stored_cols)) != len(stored_cols):
            raise ValueError(
                f"rename collision: {rename_columns} maps two stored "
                "columns to one name"
            )
        all_cols = list(dict.fromkeys(stored_cols + payload_cols))
        alias_names = {o for olds in aliases.values() for o in olds}
        resurrected = sorted(set(all_cols) & alias_names)
        if resurrected:
            # a renamed-away spelling still lives in pre-rename data
            # files; re-adding it as a NEW column would resurrect those
            # values through the alias coalesce. compact() rewrites every
            # bucket under current names and clears the aliases.
            raise ValueError(
                f"column name(s) {resurrected} were renamed away and still "
                "exist in pre-rename data files — compact() the table first, "
                "then re-add"
            )
        # a dropped name RE-INTRODUCED by this same batch (re-ADD, or
        # CHANGE y x onto the dropped x) is legal MySQL DDL (ADVICE r7)
        # but poisonous to lazy column pruning: old data files still
        # hold the name physically, and any read that admits it would
        # serve the dropped values for rows the batch didn't touch.
        # MySQL's ALTER rewrites the table here; so do we — every live
        # bucket lands in this snapshot under current names (copy-on-
        # write only; MOR bases are immutable within a commit, so it
        # must compact first). Names NOT re-introduced simply stay out
        # of the schema (lazy drop, no rewrite).
        reused = sorted({c for c in all_cols if c.lower() in doomed})
        rewrite_all = bool(reused) and bool(m["buckets"] or m.get("deltas"))
        if rewrite_all and self.write_mode == "mor":
            raise ValueError(
                f"column name(s) {reused} are dropped and re-introduced "
                "in the same batch; a merge-on-read table cannot rewrite "
                "its bases in one commit — compact() first, then replay "
                "the DDL batch"
            )
        return _Columns(all_cols, aliases, dropped, renames, rewrite_all)

    def _scope_batch(
        self,
        m: dict[str, Any],
        batch: DataFrame,
        batch_id: str,
        cols: _Columns,
        rebase_past_head: bool,
    ) -> _Scope:
        """Phase 2 — bucket the batch rows and decide which buckets this
        commit rewrites, with the batch's exact row/delete counts, and
        whether a MOR commit FOLDS: at max_delta_depth, or above
        max_read_amplification as the parent manifest records it, its
        merge writes new bases from every base and delta with the batch,
        in place of a delta that a separate compaction would read
        straight back. Depth is named the trigger when both hold.

        The merge runs per column when the batch carries `_col_seqs` (a
        MINIMAL batch, or a re-committed resolved state) or the
        manifest's `partial_state` says stored rows may; a stored column
        the batch does not project is then marked never-written on its
        MINIMAL updates, which do not carry it."""
        mor = self.write_mode == "mor"
        depth = max((len(v) for v in m.get("deltas", {}).values()), default=0)
        amp = _read_amplification(m.get("bucket_rows", {}))
        triggers = {
            "delta_depth": self.max_delta_depth is not None and depth >= self.max_delta_depth,
            "read_amplification": self.max_read_amplification is not None
            and amp > self.max_read_amplification,
        }
        fold = next((t for t, hit in triggers.items() if mor and hit), None)
        b = batch.withColumn("bucket", bucket_col(self.n_buckets)).withColumnRenamed(
            "_seq", "_ingest_seq"
        )
        partial = "_col_seqs" in batch.columns or bool(m.get("partial_state"))
        unseen = [c for c in cols.all_cols if c not in b.columns]
        if "_col_seqs" in b.columns and unseen:
            marks = F.create_map(
                *[x for c in unseen for x in (F.lit(c), F.lit(None).cast("bigint"))]
            )
            b = b.withColumn("_col_seqs", F.map_concat("_col_seqs", marks))
        counts: dict[str, int] | None = None
        observation = None
        min_seq: int | None = None
        # MOR never prunes on commit (a delta reads no stored bucket, a
        # fold reads them all): Observation counts ride the merge job.
        if m["buckets"] and not mor:
            # narrow pre-pass (no payload columns; from_json sources prune
            # to just the key fields): affected buckets + exact counts
            # (+ the batch's min seq, which the flashback rebase needs —
            # riding this job instead of a separate scan, VERDICT r3 #4)
            stats = (
                b.select("bucket", "_ingest_seq", "_deleted")
                .groupBy("bucket")
                .agg(
                    F.sum(F.col("_deleted").cast("int")).alias("deletes"),
                    F.count("*").alias("rows"),
                    F.min("_ingest_seq").alias("min_seq"),
                )
                .collect()
            )
            affected = sorted(int(r["bucket"]) for r in stats)
            counts = {
                "rows": int(sum(r["rows"] for r in stats)),
                "deletes": int(sum(r["deletes"] for r in stats)),
            }
            if stats:
                min_seq = min(int(r["min_seq"]) for r in stats)
            if cols.rewrite_all:
                # rename-onto-dropped-name (see _evolve_columns): every
                # live bucket must land in this snapshot, not just the
                # batch's — the pre-pass still supplied the counts
                affected = sorted(set(affected) | {int(bk) for bk in m["buckets"]})
        else:
            affected = list(range(self.n_buckets))  # nothing to prune
            observation = Observation(f"commit-{batch_id}")
            b = b.observe(
                observation,
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.col("_deleted").cast("int")).alias("deletes"),
            )
            if rebase_past_head:
                # no pre-pass to ride (empty table / MOR delta append):
                # one narrow single-column aggregate — same cost as the
                # old pipeline-level pre-pass, only on these paths
                row = b.agg(F.min("_ingest_seq")).collect()[0]
                min_seq = None if row[0] is None else int(row[0])
        if rebase_past_head and min_seq is not None:
            # flashback batches arrive order-inverted (seq' = -seq); the
            # rollback becomes NEW log traffic past the head: shift by
            # head - min(seq') + 1 == head + max(orig seq) + 1, so the
            # inverted events stay reverse-ordered among themselves and
            # supersede everything already absorbed under LWW-by-seq.
            offset = self.head_seq() - min_seq + 1
            b = b.withColumn("_ingest_seq", F.col("_ingest_seq") + F.lit(offset))
        return _Scope(b, affected, partial, counts, observation, fold)

    def _merge_and_write(
        self,
        m: dict[str, Any],
        cols: _Columns,
        scope: _Scope,
        drop_tombstones: bool = False,
    ) -> tuple[str | None, dict[str, dict]]:
        """Phase 3 — the MERGE (_lww_merge, ONE full-data exchange):
        per-key LWW by source seq over the unresolved stored scan of the
        affected buckets (CoW; a fold's are all of them) ∪ batch rows,
        written as the new snapshot. A MOR delta reads no stored data:
        the batch self-merges alone, so a delta holds one row per key.
        Tombstones stay as rows so older replays cannot resurrect
        deleted keys, unless compact() asks to drop them. Lineage comes
        from the written files' footer stats, so the batch is scanned
        once.

        Returns (snapshot dir name, per-bucket footer stats); (None, {})
        when no bucket is affected."""
        if not scope.affected:
            return None, {}
        delta = self.write_mode == "mor" and not scope.fold
        inputs = [scope.rows]
        if not delta:
            current, _ = self._scan(scope.rows.sparkSession, m, scope.affected)
            if cols.dropped:
                # vacate dropped names BEFORE renames claim them — the
                # old manifest's scan still carries them, and a rename
                # onto one would otherwise duplicate the name
                current = current.drop(*[c for c in cols.dropped if c in current.columns])
            if cols.renames:
                # stored rows scanned under the pre-rename manifest: carry
                # values (and per-column attributions) to the new names
                # before the merge union
                for old, new in cols.renames.items():
                    if old in current.columns:
                        current = current.withColumnRenamed(old, new)
                current = _translate_partial_meta(current, cols.renames)
            inputs.insert(0, current)
        merged = _lww_merge(inputs, cols.all_cols, scope.partial, scope.affected)
        if drop_tombstones:
            merged = merged.filter(~F.col("_deleted"))
        return self._write_snapshot(
            merged.withColumn("pbucket", F.col("bucket")), m["version"] + 1
        )

    def _write_snapshot(self, df: DataFrame, version: int) -> tuple[str, dict[str, dict]]:
        """Write `df` — carrying `pbucket` and already partitioned the
        way the caller wants — as snapshot `version`'s data files, one
        `pbucket=<b>` dir per bucket, and measure them from their
        parquet footers. Returns (dir name, _bucket_footer_stats).

        The dir is unique per writer ATTEMPT (VERDICT r5 #6): two
        writers racing the same version must never share a directory —
        a CAS loser's overwrite would otherwise clobber (static mode) or
        interleave with (dynamic mode) the winner's files before the
        manifest race is even decided. The winning manifest records its
        dir; a loser's dir is an orphan expire_snapshots reclaims."""
        snap_name = f"snap-{version:012d}-{_uuid.uuid4().hex[:8]}"
        snap_dir = os.path.join(self.path, DATA_DIR, snap_name)
        df.write.mode("overwrite").partitionBy("pbucket").parquet(snap_dir)
        return snap_name, self._bucket_footer_stats(snap_dir)

    def _next_manifest(
        self,
        m: dict[str, Any],
        batch_id: str | None,
        cols: _Columns,
        scope: _Scope,
        snap_name: str | None,
        written: dict[str, dict[str, Any]],
        t0: float,
    ) -> dict[str, Any]:
        """Phase 4 — the next manifest from the written buckets' footer
        stats (no data read): bucket map or MOR delta lists, per-bucket
        row counts, lineage, alias folding and the metrics; then the
        manifest CAS, the commit point. A fold's manifest is the one
        compaction-shaped manifest: new bases only, no deltas. batch_id
        None is compact(): its metrics say `"op": "compact"` and no
        batch is recorded. Returns the metrics."""
        mor = self.write_mode == "mor"
        delta = mor and not scope.fold
        new_version = m["version"] + 1
        counts = scope.counts
        if scope.observation is not None:
            got = scope.observation.get if written else {"rows": 0, "deletes": 0}
            counts = {"rows": int(got["rows"] or 0), "deletes": int(got["deletes"] or 0)}
        # a fold rewrote every live bucket: no parent base or delta remains
        prior = {} if scope.fold else m
        buckets_map = dict(prior.get("buckets", {}))
        deltas = {bk: list(v) for bk, v in prior.get("deltas", {}).items()}
        lineage = dict(m.get("lineage", {}))
        # per-bucket base/delta row counts (from footer stats — no data
        # read): the measured read amplification max_read_amplification
        # keys on
        bucket_rows = {bk: dict(v) for bk, v in prior.get("bucket_rows", {}).items()}
        # the file count is a commit metric, not lineage
        files_written = sum(st.pop("files") for st in written.values())
        for bk, st in written.items():
            entry = {"snapshot": new_version, **st}
            if delta:
                deltas.setdefault(bk, []).append(new_version)
                if bk in bucket_rows:
                    bucket_rows[bk]["delta"] += st["rows"]
                else:
                    # pure-MOR tables never write a base until a fold:
                    # the bucket's FIRST delta plays the base's role in
                    # the amplification ratio (reading one file is the
                    # ideal; every further delta is the overhead)
                    bucket_rows[bk] = {"base": st["rows"], "delta": 0}
                # a delta holds only its batch: an out-of-order older
                # batch must not lower the bucket's recorded head seq
                entry = max(
                    entry, lineage.get(bk, entry),
                    key=lambda e: (e["max_seq"] is not None, e["max_seq"] or 0),
                )
            else:
                # the merge read the bucket's deltas (_scan) and the new
                # base holds their resolved rows: drop the list, or
                # every later read re-scans and re-merges them
                buckets_map[bk] = new_version
                bucket_rows[bk] = {"base": st["rows"], "delta": 0}
                deltas.pop(bk, None)
            lineage[bk] = entry
        aliases = cols.aliases
        if all(v == new_version for v in buckets_map.values()) and not any(deltas.values()):
            # alias folding: this commit rewrote EVERY live bucket
            # (rewrite_all, a fold, or a batch touching all keys), so
            # every data file the new snapshot references is written
            # under current names and the alias coalesce chains are dead
            # weight (renamed-away names become re-addable); time travel
            # serves old names from old manifests.
            aliases = {}
        metrics = {"op": "compact"} if batch_id is None else {"batch_id": batch_id}
        metrics.update(
            skipped=False,
            snapshot=new_version,
            mode=self.write_mode,
            buckets_rewritten=len(written),
            files_written=files_written,
            buckets_total=self.n_buckets,
            rows_in_batch=counts["rows"],
            deletes=counts["deletes"],
            commit_secs=round(time.time() - t0, 3),
        )
        if mor:
            metrics["delta_depth"] = max((len(v) for v in deltas.values()), default=0)
            metrics["read_amplification"] = round(_read_amplification(bucket_rows), 4)
        if scope.fold:
            metrics["compacted_to"] = new_version
            metrics["compaction_trigger"] = scope.fold
        batches, watermarks = self._record_batch(m, batch_id)
        dirs = {**m.get("snap_dirs", {}), str(new_version): snap_name}
        live = _referenced(buckets_map, deltas)
        self._write_manifest(
            {
                "version": new_version,
                "n_buckets": self.n_buckets,
                "buckets": buckets_map,
                "deltas": deltas,
                "committed_batches": batches,
                "batch_watermarks": watermarks,
                "columns": cols.all_cols,
                "aliases": aliases,
                "lineage": lineage,
                "bucket_rows": bucket_rows,
                # version -> unique data dir (see _write_snapshot) of just
                # the snapshots this manifest references, so the map does
                # not grow per commit (older manifests keep their own)
                "snap_dirs": {v: d for v, d in dirs.items() if int(v) in live},
                "metrics": metrics,
                # sticky for the table's life: per-column writes (bases
                # and deltas) carry the `_col_seqs` attribution map, and
                # every later scan reads it and every merge honors it
                "partial_state": bool(m.get("partial_state")) or scope.partial,
            }
        )
        return metrics

    def rebucket(
        self, spark: SparkSession, new_path: str, n_buckets: int
    ) -> "IcebergLiteTable":
        """The full rewrite the n_buckets guard points at: copy the
        table's raw state — tombstones, per-row lineage (_ingest_seq /
        log positions) and all — into a NEW table with a different
        bucket count. One read + one commit job (the merge re-buckets
        and re-clusters); LWW seqs carry over, so replays that predate
        the old head still resolve correctly against the new table.
        Batch-id bookkeeping intentionally does NOT carry over (ids
        were scoped to the old table's history); the new table starts
        a fresh exactly-once ledger."""
        raw = self._read_raw(spark)
        batch = raw.select(
            *[c for c in raw.columns if c not in ("bucket",)]
        ).withColumnRenamed("_ingest_seq", "_seq")
        dst = IcebergLiteTable(new_path, n_buckets=n_buckets, write_mode=self.write_mode)
        dst.commit(batch, batch_id="rebucket-from-source")
        return dst

    def commit_with_retry(
        self,
        batch: DataFrame,
        batch_id: str,
        max_retries: int = 5,
        **kwargs: Any,
    ) -> dict[str, Any]:
        """Optimistic-concurrency loop around commit(): on
        ConcurrentCommitError (another writer won the manifest CAS for
        this snapshot version), re-read the table and re-merge — commit
        re-reads the latest manifest on entry, so a plain re-invocation
        IS the retry (the loser's orphaned snapshot data dir is
        harmless, same as a crash between data and manifest). LWW
        convergence makes the outcome order-independent, and the
        batch-id bookkeeping still dedups a batch the winner already
        carried. Raises after max_retries consecutive losses."""
        last: ConcurrentCommitError | None = None
        for _ in range(max_retries + 1):
            try:
                return self.commit(batch, batch_id, **kwargs)
            except ConcurrentCommitError as e:
                last = e
        raise ConcurrentCommitError(
            f"lost the manifest CAS {max_retries + 1} times in a row for "
            f"batch {batch_id!r} — writer contention too high"
        ) from last

    # -- exactly-once batch-id bookkeeping ------------------------------------
    #
    # An unbounded committed-batch list would grow one entry per micro-
    # batch forever (10^7+ entries at 10^10 events). STREAMING batch ids
    # (`stream-<queryId>-<epoch>`, emitted by streaming.pipeline.
    # start_ingest) are monotone per checkpoint lineage: Structured
    # Streaming re-delivers an epoch only until it commits, and epochs
    # commit in order — so a high WATERMARK keyed by everything up to
    # the trailing epoch number is a complete dedup record for them
    # (Iceberg keys its epoch dedup by queryId the same way). The
    # queryId in the key is load-bearing (ADVICE r2): a stream restarted
    # with a FRESH checkpoint dir resets epochs to 0 and a second ingest
    # query feeding the same table starts at 0 — without the scoping,
    # every such micro-batch would be silently skipped as "already
    # committed". Ad-hoc batch ids carry NO ordering guarantee (a user
    # may commit "b3" before "b2") and stay in the explicit list.

    #: only ids emitted by streaming.pipeline.start_ingest carry the
    #: monotone-epoch guarantee: `stream-<12-hex queryId>-<epoch>`.
    #: The queryId segment shape is validated (ADVICE r3) so an ad-hoc
    #: id that happens to start with "stream-" (e.g. "stream-backfill-2",
    #: which has NO ordering guarantee) stays in the exact-set list
    #: instead of being watermark-skipped.
    _WATERMARK_ID = re.compile(r"(stream-[0-9a-f]{12}-)(\d+)$")

    @classmethod
    def stream_batch_id(cls, query_id: str, epoch: int) -> str:
        """The batch id of micro-batch `epoch` of the streaming query
        whose id is the UUID `query_id`: `stream-<its first 12 hex
        digits>-<epoch>`, the one shape _WATERMARK_ID accepts."""
        batch_id = f"stream-{query_id.replace('-', '')[:12]}-{epoch}"
        if cls._WATERMARK_ID.fullmatch(batch_id) is None:
            raise RuntimeError(f"unexpected streaming queryId shape: {query_id!r}")
        return batch_id

    @classmethod
    def _split_batch_id(cls, batch_id: str) -> tuple[str, int] | None:
        m = cls._WATERMARK_ID.fullmatch(batch_id)
        if m is None:
            return None
        return (m.group(1), int(m.group(2)))

    def _already_committed(self, m: dict[str, Any], batch_id: str) -> bool:
        if batch_id in m.get("committed_batches", []):
            return True
        parts = self._split_batch_id(batch_id)
        if parts is None:
            return False
        prefix, n = parts
        return n <= m.get("batch_watermarks", {}).get(prefix, -1)

    def _record_batch(self, m: dict[str, Any], batch_id: str | None) -> tuple[list, dict]:
        """The manifest's batch bookkeeping with `batch_id` added (None,
        a compaction, adds nothing)."""
        batches = list(m.get("committed_batches", []))
        watermarks = dict(m.get("batch_watermarks", {}))
        parts = None if batch_id is None else self._split_batch_id(batch_id)
        if parts is not None:
            prefix, n = parts
            watermarks[prefix] = max(n, watermarks.get(prefix, -1))
        elif batch_id is not None:
            batches.append(batch_id)
        return batches, watermarks

    def rollback_to(self, version: int) -> dict[str, Any]:
        """Iceberg `rollback_to_snapshot` analog: a NEW manifest whose
        bucket map is snapshot `version`'s — O(metadata), no data moves,
        and the rolled-back-over snapshots stay readable (time-travel
        forward again by rolling back to a newer version). Batch
        bookkeeping is also restored so replaying the undone batches is
        possible; the flashback operator remains the row-level
        alternative when no snapshot boundary matches."""
        target = self.manifest_at(version)
        if target is None:
            raise ValueError(f"snapshot {version} does not exist (see versions())")
        cur = self.latest_manifest()
        new_version = cur["version"] + 1
        self._write_manifest(
            {
                **target,
                "version": new_version,
                "rolled_back_from": cur["version"],
                "rolled_back_to": version,
            }
        )
        return {"snapshot": new_version, "restored": version}

    def compact(self, spark: SparkSession, drop_tombstones: bool = True) -> dict[str, Any]:
        """Rewrite every bucket into one fresh snapshot: the commit's
        fold (_merge_and_write, one bucket exchange over the scan of
        every base and delta; _next_manifest's compaction-shaped
        manifest) with the empty state as its batch side, which the
        optimizer prunes. Folds MOR deltas and (optionally) drops
        tombstone rows, safe once no replay older than the current head
        can still arrive (the Iceberg `expire_snapshots` + delete-file
        compaction analog)."""
        t0 = time.time()
        m = self.latest_manifest()
        if not m or not (m.get("buckets") or m.get("deltas")):
            return {"skipped": True, "reason": "empty table"}
        self._check_n_buckets(m)
        cols = _Columns(m["columns"], dict(m.get("aliases") or {}), set(), {}, False)
        scope = _Scope(
            self._empty_state(spark, m["columns"]),
            list(range(self.n_buckets)),
            bool(m.get("partial_state")),
            {"rows": 0, "deletes": 0},
            None,
            "manual",
        )
        snap_name, written = self._merge_and_write(m, cols, scope, drop_tombstones)
        return self._next_manifest(m, None, cols, scope, snap_name, written, t0)

    def _bucket_footer_stats(self, snap_dir: str) -> dict[str, dict[str, Any]]:
        """Per-bucket lineage from parquet COLUMN STATISTICS (no data
        read): max absorbed `_ingest_seq` and its source log position.

        The (log_file, log_pos) pair is taken from the ROW GROUP that
        owns the max `_ingest_seq` — log_pos resets per binlog file, so
        independent per-column maxima could pair the latest file with a
        higher position from an earlier file (a position no real event
        has). Within one row group the pairing IS sound: binlog order is
        monotone in (log_file, log_pos) and seq is its flattening, so
        the group's max-seq event also holds the group's lexicographic
        max (log_file, log_pos).

        Each bucket's entry also counts the parquet `files` read (the
        merge writes one per bucket; _next_manifest reports the sum as
        the commit's `files_written`, not as lineage)."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        def one_bucket(d: str):
            bk = d.split("=", 1)[1]
            best = None  # (max_seq, log_file, log_pos) of the owning row group
            rows = files = 0
            bdir = os.path.join(snap_dir, d)
            for fn in os.listdir(bdir):
                if not fn.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(bdir, fn)).metadata
                rows += md.num_rows
                files += 1
                idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)

                    def stat_max(col: str):
                        s = g.column(idx[col]).statistics
                        v = s.max if s is not None and s.has_min_max else None
                        return v.decode("utf-8", "replace") if isinstance(v, bytes) else v

                    seq = stat_max("_ingest_seq")
                    if seq is None:
                        continue
                    if best is None or seq > best[0]:
                        best = (seq, stat_max("_log_file"), stat_max("_log_pos"))
            return bk, rows, files, best

        dirs = sorted(d for d in os.listdir(snap_dir) if d.startswith("pbucket="))
        # footer reads are driver-serial commit cost: thread them (pyarrow
        # releases the GIL in the C++ reader; ~constant wall time per commit
        # regardless of bucket count)
        out: dict[str, dict[str, Any]] = {}
        with ThreadPoolExecutor(max_workers=min(16, max(1, len(dirs)))) as ex:
            results = list(ex.map(one_bucket, dirs))
        for bk, rows, files, best in results:
            if rows:
                seq, lf, lp = best if best else (None, None, None)
                out[bk] = {
                    "max_seq": int(seq) if seq is not None else None,
                    "log_file": lf,
                    "log_pos": int(lp) if lp is not None else None,
                    "rows": rows,
                    "files": files,
                }
        return out

    def expire_snapshots(self, keep_last: int = 2) -> dict[str, Any]:
        """Iceberg `expire_snapshots` analog: delete snapshot data dirs
        that no manifest in the retained window references. The current
        manifest's bucket->snapshot map pins live data; older manifests
        beyond `keep_last` lose time-travel but free space.

        Liveness is by DIRECTORY NAME, not just version: a concurrent
        writer that lost the manifest CAS leaves an orphan data dir
        carrying the WINNER's version number (dirs are per-attempt
        unique) — name-level tracking reclaims the orphan while the
        winner's same-version dir stays live."""
        import shutil

        m = self.latest_manifest()
        if not m:
            return {"removed": 0}

        def _live_of(doc: dict[str, Any]) -> tuple[set[int], set[str]]:
            vs = _referenced(doc.get("buckets", {}), doc.get("deltas", {}))
            return vs, {doc["snap_dirs"][str(v)] for v in vs}

        live, live_names = _live_of(m)
        for v in self.versions()[-keep_last:]:
            vs, nm = _live_of(self.manifest_at(v))
            live |= vs
            live_names |= nm
        ddir = os.path.join(self.path, DATA_DIR)
        removed = 0
        if os.path.isdir(ddir):
            for d in os.listdir(ddir):
                if d.startswith("snap-") and d not in live_names:
                    shutil.rmtree(os.path.join(ddir, d), ignore_errors=True)
                    removed += 1
        return {"removed": removed, "live_snapshots": sorted(live)}

    # -- verification helpers ---------------------------------------------------

    def state_checksum(self, spark: SparkSession) -> list[tuple]:
        """Per-row sha256(content) keyed by (repo, path) — the BASELINE
        invariant — as a sorted list for test comparison."""
        df = self.read(spark)
        rows = (
            df.select(*S.MERGE_KEYS, F.sha2(F.coalesce(F.col("content"), F.lit("")), 256).alias("h"))
            .collect()
        )
        return sorted((r["repo"], r["path"], r["h"]) for r in rows)
