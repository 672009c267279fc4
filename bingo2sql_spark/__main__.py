"""CLI face: `python -m bingo2sql_spark` — the reference binary's flag
surface (cmd/root.go:96-190) mapped 1:1 onto `api.generate_sql`.

The reference is driven as `bingo2sql --start-file=... -d db -t tbl
--flashback -o out.sql`; here the source is a landed event directory
(parquet envelopes, raw typed/JSON parquet, raw JSON-lines or binlog v4
files, read by sources.layout.read_landing) instead of a live MySQL
connection, and the output is an ordered SQL text
artifact directory. Every gate/render flag keeps the reference's name
and default.
"""

from __future__ import annotations

import argparse
import sys

from bingo2sql_spark.sources.layout import LANDING_FORMATS, read_landing


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="bingo2sql_spark",
        description="Generate (rollback) SQL from a landed change-event log.",
    )
    p.add_argument("--input", required=True, help="event directory (see --input-format)")
    p.add_argument("-o", "--output", required=True, help="output directory for SQL parts")
    p.add_argument(
        "--input-format",
        choices=LANDING_FORMATS,
        default=LANDING_FORMATS[0],
        help="landing format (sources.layout.read_landing): decoded "
             "envelopes, typed wire, JSON wire, JSON-lines, or raw MySQL "
             "binlog v4 files (binary decode; column names resolve via "
             "--table-schema); the socket tail is a stream only",
    )
    # F1-F8 gates (reference flag names, cmd/root.go)
    p.add_argument("--start-time", default=None)
    p.add_argument("--stop-time", default=None)
    p.add_argument("--start-file", default=None)
    p.add_argument("--start-position", type=int, default=0)
    p.add_argument("--stop-file", default=None)
    p.add_argument("--stop-position", type=int, default=None)
    p.add_argument("--include-gtids", default=None, help="uuid:lo-hi[,...]")
    p.add_argument("-d", "--databases", action="append", default=None)
    p.add_argument(
        "-t", "--tables", action="append", default=None,
        help="table-name gate; a single value naming an EXISTING FILE is "
        "treated as a CREATE TABLE schema file (the reference's local mode "
        "overloads --tables the same way, core/parser.go:794-815)",
    )
    p.add_argument(
        "--table-schema", default=None,
        help="CREATE TABLE schema file driving per-table rendering metadata "
        "(generated-column exclusion, PRI/UNI key selection); the explicit "
        "spelling of the -t <file> overload",
    )
    p.add_argument("--sql-type", action="append", default=None,
                   help="insert/update/delete (repeatable)")
    p.add_argument("--threadID", type=int, default=None, dest="thread_id")
    p.add_argument("--max", type=int, default=0, dest="max_rows",
                   help="stop after N change rows (0 = unlimited)")
    p.add_argument("--parse-ddl", action="store_true")
    # mode + rendering
    p.add_argument("-B", "--flashback", action="store_true")
    p.add_argument("--no-minimal-update", action="store_true",
                   help="full-SET updates instead of changed-column diffs")
    p.add_argument("--minimal-insert", action="store_true")
    p.add_argument("--no-primary-key", action="store_true")
    p.add_argument("--show-gtid", action="store_true", default=True)
    p.add_argument("--no-show-gtid", action="store_false", dest="show_gtid")
    p.add_argument("--show-time", action="store_true", default=True)
    p.add_argument("--no-show-time", action="store_false", dest="show_time")
    p.add_argument("--show-all-time", action="store_true")
    p.add_argument("--show-thread", action="store_true")
    p.add_argument("--compression", default=None, help="e.g. gzip (archive sink)")
    # execution
    p.add_argument("--master", default=None, help="spark master (default local[cpus])")
    return p


def build_stats_parser() -> argparse.ArgumentParser:
    """`python -m bingo2sql_spark stats` — the reference's third
    front-end (cmd/stats.go:30-54, ParserStats
    core/parser_stats.go:549-632): per-table DML counts + totals over
    the gated event range, tables ascending by total (A1/A2)."""
    p = argparse.ArgumentParser(
        prog="bingo2sql_spark stats",
        description="Per-table DML counts over a landed change-event log.",
    )
    p.add_argument("--input", required=True, help="event directory (see --input-format)")
    p.add_argument("--input-format", choices=LANDING_FORMATS, default=LANDING_FORMATS[0])
    p.add_argument("--start-time", default=None)
    p.add_argument("--stop-time", default=None)
    p.add_argument("--start-file", default=None)
    p.add_argument("--start-position", type=int, default=0)
    p.add_argument("--stop-file", default=None)
    p.add_argument("--stop-position", type=int, default=None)
    p.add_argument("--include-gtids", default=None)
    p.add_argument("-d", "--databases", action="append", default=None)
    p.add_argument("-t", "--tables", action="append", default=None)
    p.add_argument("--threadID", type=int, default=None, dest="thread_id")
    p.add_argument("--master", default=None)
    return p


def stats_main(argv: list[str]) -> int:
    args = build_stats_parser().parse_args(argv)
    from bingo2sql_spark.operators import filters as FL
    from bingo2sql_spark.operators.stats import table_stats
    from bingo2sql_spark.session import get_spark

    spark = get_spark("bingo2sql-stats", master=args.master)
    events = read_landing(spark, args.input, args.input_format)
    events = FL.apply_filters(
        events,
        start_time=args.start_time,
        stop_time=args.stop_time,
        start_file=args.start_file,
        start_pos=args.start_position,
        stop_file=args.stop_file,
        stop_pos=args.stop_position,
        gtids=args.include_gtids,
        dbs=args.databases,
        tables=args.tables,
        tid=args.thread_id,
    )
    rows = table_stats(events).collect()  # metadata-scale: one row/table
    header = ("db", "table", "inserts", "updates", "deletes", "total",
              "first_ts", "last_ts")
    cells = [
        [str(r["db"]), str(r["table"]), str(r["inserts"]), str(r["updates"]),
         str(r["deletes"]), str(r["total"]), str(r["first_ts"]), str(r["last_ts"])]
        for r in rows
    ]
    totals = [
        "", "TOTAL",
        str(sum(r["inserts"] for r in rows)),
        str(sum(r["updates"] for r in rows)),
        str(sum(r["deletes"] for r in rows)),
        str(sum(r["total"] for r in rows)),
        str(min((r["first_ts"] for r in rows), default="")),
        str(max((r["last_ts"] for r in rows), default="")),
    ]
    widths = [
        max(len(header[i]), *(len(row[i]) for row in cells + [totals]))
        if cells else max(len(header[i]), len(totals[i]))
        for i in range(len(header))
    ]

    def fmt(row: list[str]) -> str:
        return "  ".join(c.ljust(w) for c, w in zip(row, widths)).rstrip()

    print(fmt(list(header)))
    for row in cells:
        print(fmt(row))
    print(fmt(totals))
    return 0


def main(argv: list[str] | None = None) -> int:
    if argv is None:
        argv = sys.argv[1:]
    if argv and argv[0] == "stats":
        return stats_main(argv[1:])
    args = build_parser().parse_args(argv)
    from bingo2sql_spark.api import generate_sql
    from bingo2sql_spark.ddl import parse_schema_file
    from bingo2sql_spark.session import get_spark

    # reference local-mode overload: a lone -t value that names a file is
    # the schema file, not a table gate (core/parser.go:794-815)
    import os as _os

    table_schema = args.table_schema
    tables = args.tables
    if (
        table_schema is None
        and tables
        and len(tables) == 1
        and _os.path.isfile(tables[0])
    ):
        # loud (ADVICE r5): a table FILTER whose name collides with an
        # existing file silently becomes a schema file; make the overload
        # diagnosable from stderr
        print(
            f"note: -t {tables[0]} names an existing file — treating it as a "
            "CREATE TABLE schema file, not a table filter (pass --table-schema "
            "explicitly to silence this)",
            file=sys.stderr,
        )
        table_schema, tables = tables[0], None

    spark = get_spark("bingo2sql-cli", master=args.master)
    # a binlog landing names its columns from the schema file, like the
    # reference's local mode (core/parser.go:794-815); tables not in it
    # decode positionally (@1..@N) and are normally gated out by -t/-d
    events = read_landing(
        spark, args.input, args.input_format,
        table_schemas={
            key: meta.columns for key, meta in parse_schema_file(table_schema).items()
        } if table_schema else None,
    )
    generate_sql(
        events,
        args.output,
        start_time=args.start_time,
        stop_time=args.stop_time,
        start_file=args.start_file,
        start_position=args.start_position,
        stop_file=args.stop_file,
        stop_position=args.stop_position,
        include_gtids=args.include_gtids,
        databases=args.databases,
        tables=tables,
        sql_type=args.sql_type,
        thread_id=args.thread_id,
        max_rows=args.max_rows,
        parse_ddl=args.parse_ddl,
        flashback=args.flashback,
        minimal_update=not args.no_minimal_update,
        minimal_insert=args.minimal_insert,
        no_primary_key=args.no_primary_key,
        show_gtid=args.show_gtid,
        show_time=args.show_time,
        show_all_time=args.show_all_time,
        show_thread=args.show_thread,
        compression=args.compression,
        table_schema=table_schema,
    )
    print(f"wrote SQL artifact to {args.output}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
