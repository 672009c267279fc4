"""Filter pack F1-F8 — the reference's per-event gates as pure Column
predicates.

The reference applies these imperatively, short-circuit ordered, inside
parseSingleEvent (core/parser.go:2239-2411). Here each is a Column
expression so Catalyst can push them into the parquet scan (PushedFilters)
and prune partitions — they MUST be applied upstream of any mapInPandas
stage (Python UDFs block pushdown; SURVEY.md §4).

Design note for 100 TB: F1/F2 align with the physical layout (events
partitioned/sorted by log_file, ts) so they become partition pruning +
row-group min/max skipping, i.e. the scan never reads out-of-range files —
the distributed analog of the reference seeking a byte offset
(core/parser.go:395-400).
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bingo2sql_spark.functions.sqltext import ident, str_lit


def _all(parts: list[str]) -> Column:
    """AND of SQL predicate texts as one Column (true when empty)."""
    return F.expr(" AND ".join(f"({p})" for p in parts) or "true")


def time_range(
    start: str | None = None, stop: str | None = None, ts_col: str = "ts"
) -> Column:
    """F1 — time-range gate (core/parser.go:2258-2266).

    The reference treats stop-time as a scan terminator; in batch it is a
    plain predicate (SURVEY.md §2.2 F1)."""
    parts = []
    if start is not None:
        parts.append(f"{ident(ts_col)} >= to_timestamp({str_lit(start)})")
    if stop is not None:
        parts.append(f"{ident(ts_col)} <= to_timestamp({str_lit(stop)})")
    return _all(parts)


def pos_range(
    start_file: str | None = None,
    start_pos: int = 0,
    stop_file: str | None = None,
    stop_pos: int | None = None,
) -> Column:
    """F2 — binlog (file, pos) tuple-range gate (checkFinish
    core/parser.go:523-574). Tuple comparison via struct ordering."""
    def bound(file: str, pos: int) -> str:
        return f"struct({str_lit(file)} AS log_file, CAST({int(pos)} AS BIGINT) AS log_pos)"

    cur = "struct(log_file, CAST(log_pos AS BIGINT) AS log_pos)"
    parts = []
    if start_file is not None:
        parts.append(f"{cur} >= {bound(start_file, start_pos)}")
    if stop_file is not None:
        parts.append(
            f"{cur} <= {bound(stop_file, stop_pos if stop_pos is not None else (1 << 62))}"
        )
    return _all(parts)


@dataclass(frozen=True)
class GtidRange:
    """One `uuid:from[-to]` interval (parseGtidSets core/parser.go:860-911)."""

    uuid: str
    start: int
    stop: int  # inclusive; reference's stopSeqNo semantics


def parse_gtid_sets(spec: str) -> list[GtidRange]:
    """Parse `uuid:lo[-hi][:lo2[-hi2]][,uuid2:...]` like
    parseGtidSets (core/parser.go:860-911). hi omitted -> single GNO."""
    out: list[GtidRange] = []
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        bits = part.split(":")
        uuid = bits[0].strip()
        if len(bits) < 2:
            raise ValueError(f"GTID range missing intervals: {part!r}")
        for iv in bits[1:]:
            lohi = iv.split("-")
            lo = int(lohi[0])
            hi = int(lohi[1]) if len(lohi) > 1 else lo
            if hi < lo:
                raise ValueError(f"invalid GTID interval: {iv!r}")
            out.append(GtidRange(uuid, lo, hi))
    return out


def gtid_set(ranges: Sequence[GtidRange] | str) -> Column:
    """F3 — GTID-set include filter (isGtidEventInGtidSet
    core/parser.go:589-634) as an OR-of-intervals predicate."""
    if isinstance(ranges, str):
        ranges = parse_gtid_sets(ranges)
    return F.expr(
        " OR ".join(
            f"(gtid_uuid = {str_lit(r.uuid)} AND gno >= {int(r.start)} "
            f"AND gno <= {int(r.stop)})"
            for r in ranges
        )
        or "false"
    )


def schema_table(
    dbs: Sequence[str] | None = None, tables: Sequence[str] | None = None
) -> Column:
    """F4 — db/table include filter, case-insensitive, `db.table`
    qualification supported (schemaFilter core/parser.go:1141-1161;
    init core/parser.go:1024-1045). Empty/None = pass-all."""

    def in_list(col: str, values: Sequence[str]) -> str:
        return f"lower({col}) IN (" + ", ".join(str_lit(v.lower()) for v in values) + ")"

    parts = []
    if dbs:
        parts.append(in_list("db", dbs))
    if tables:
        plain = [t for t in tables if "." not in t]
        qual = [t.lower().split(".", 1) for t in tables if "." in t]
        tc = [in_list("`table`", plain)] if plain else []
        tc += [
            f"lower(db) = {str_lit(d)} AND lower(`table`) = {str_lit(t)}" for d, t in qual
        ]
        parts.append(" OR ".join(f"({c})" for c in tc))
    return _all(parts)


def dml_types(types: Sequence[str]) -> Column:
    """F5 — `--sql-type=insert,update,delete` (core/parser.go:1014-1022)."""
    return F.expr("op IN (" + ", ".join(str_lit(t.lower()) for t in types) + ")")


def thread_id(tid: int) -> Column:
    """F6 — connection/thread filter (core/parser.go:2344-2346). The
    decode stage materializes thread_id on every row, so no cross-row
    state is needed (unlike the reference's QueryEvent capture)."""
    return F.expr(f"thread_id = {int(tid)}")


def max_rows(events: DataFrame, n: int, order: Sequence[str] = ("seq",)) -> DataFrame:
    """F7 — stop after N change rows (core/parser.go:2388-2391;
    default --max=100000, 0 = unlimited). Deterministic top-N in binlog
    order; Spark plans a TakeOrderedAndProject (no full sort at scale)."""
    if n <= 0:
        return events
    return events.orderBy(*[F.col(c) for c in order]).limit(n)


def ddl_passthrough(events: DataFrame, include_ddl: bool, flashback: bool) -> DataFrame:
    """F8 — DDL events pass through only when requested and never in
    flashback mode (core/parser.go:2314-2339)."""
    if include_ddl and not flashback:
        return events
    return events.filter("op != 'ddl'")


def apply_filters(
    events: DataFrame,
    *,
    start_time: str | None = None,
    stop_time: str | None = None,
    start_file: str | None = None,
    start_pos: int = 0,
    stop_file: str | None = None,
    stop_pos: int | None = None,
    gtids: str | Sequence[GtidRange] | None = None,
    dbs: Sequence[str] | None = None,
    tables: Sequence[str] | None = None,
    sql_types: Sequence[str] | None = None,
    tid: int | None = None,
    limit: int = 0,
    include_ddl: bool = False,
    flashback: bool = False,
) -> DataFrame:
    """Compose F1-F8 in the reference's gate order (cheap scan-aligned
    predicates first — core/parser.go:2244-2295). All are conjunctive
    Column predicates, so Catalyst merges them into one scan filter."""
    out = events.filter(
        time_range(start_time, stop_time)
        & pos_range(start_file, start_pos, stop_file, stop_pos)
        & schema_table(dbs, tables)
    )
    if gtids:
        out = out.filter(gtid_set(gtids))
    if sql_types:
        out = out.filter(dml_types(sql_types))
    if tid is not None:
        out = out.filter(thread_id(tid))
    out = ddl_passthrough(out, include_ddl, flashback)
    if limit:
        out = max_rows(out, limit)
    return out
