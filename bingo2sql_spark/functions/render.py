"""T1-T3/T5/T6/T8/S6 — SQL-text generation (the reference's main output
mode) as vectorized transforms.

One implementation: pure JVM expressions (whole-stage codegen), handed
to Spark as SQL expression text (functions.sqltext) so that building a
plan costs a few gateway calls, not one per Column node. Escaping runs
via regexp_replace, statement assembly via concat_ws, minimal-update
SET lists via null-skipping concat_ws (compareValue analog,
core/parser.go:2184-2209). `render_sql` emits one statement per event;
`render_sql_inline` batches consecutive inserts into multi-row VALUES
statements (--minimal-insert, core/parser.go:1164-1240).

Flashback note: rollback SQL (T5, generateUpdateRollbackSQL
core/parser.go:1499-1623) is NOT a separate renderer — after
operators.flashback.invert swaps images and remaps ops, this forward
renderer emits exactly the reference's rollback statements.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bingo2sql_spark import schema as S
from bingo2sql_spark.functions.sqltext import field, ident, str_lit

KEY_COLS = list(S.MERGE_KEYS)


_DDL_USE_TAIL = "`;\n"
_TRAILING_SEMI = r";\s*$"

#: characters sql_escape rewrites: \ ' " NUL Ctrl-Z LF CR
_SPECIALS = "[" + "\\\\" + "'\"\n\r\x00\x1a" + "]"
_ESCAPES = (
    ("([\\\\'\"])", r"\\$1"),
    (r"\n", r"\\n"),
    (r"\r", r"\\r"),
    ("\x00", r"\\0"),
    ("\x1a", r"\\Z"),
)


def sql_escape(e: str) -> str:
    r"""SQL text: backslash escaping of the string expression `e`, full
    escapeBytesBackslash character set (core/parser.go:1894-1935):
    \\ ' " NUL(0x00) Ctrl-Z(0x1a) LF CR. Content containing NUL or
    Ctrl-Z would otherwise corrupt/truncate the replayed SQL text.

    The three keep-the-char escapes (\\ ' ") fuse into ONE capture-group
    pass — identical output to the sequential replaces (the inserted
    backslashes are untouched by the later control-char passes) — and a
    single rlike gate skips every replace when the value contains no
    escapable character at all, the overwhelmingly common case (one
    scan instead of five; values WITH specials pay the gate + escapes,
    ~20% over the ungated chain). NULL passes through NULL either way
    (sql_literal handles it)."""
    escaped = e
    for pattern, repl in _ESCAPES:
        escaped = f"regexp_replace({escaped}, {str_lit(pattern)}, {str_lit(repl)})"
    return f"CASE WHEN {e} RLIKE {str_lit(_SPECIALS)} THEN {escaped} ELSE {e} END"


def sql_literal(e: str) -> str:
    """SQL text: NULL -> NULL, else '<escaped>' (InterpolateParams
    core/parser.go:1763-1766,1838-1841). Wrap in `F.expr` for a
    Column."""
    quote = str_lit("'")
    return f"CASE WHEN {e} IS NULL THEN 'NULL' ELSE concat({quote}, {sql_escape(e)}, {quote}) END"


def _qualified(db: str, table: str) -> str:
    """`db`.`table` backtick quoting (getTableName core/parser.go:2488-2496)."""
    return f"concat('`', {db}, '`.`', {table}, '`')"


def _col_list(cols: list[str]) -> str:
    """The `(`c1`,`c2`,...)` column list of an INSERT, as a literal."""
    return str_lit("(" + ",".join(f"`{c}`" for c in cols) + ")")


def _concat_ws(sep: str, parts) -> str:
    """concat_ws(sep, parts...) — NULL parts are skipped, no parts is ''."""
    return f"concat_ws({str_lit(sep)}" + "".join(", " + p for p in parts) + ")"


def _values(cols: list[str]) -> str:
    """Comma-joined literals of the after image's `cols`."""
    return _concat_ws(",", [sql_literal(field("after", c)) for c in cols])


def _where_eq(img: str, col: str) -> str:
    """PK predicate with IS NULL handling (generateDeleteSQL
    core/parser.go:1277-1305)."""
    c = field(img, col)
    return (
        f"CASE WHEN {c} IS NULL THEN {str_lit(f'`{col}` IS NULL')} "
        f"ELSE concat({str_lit(f'`{col}`=')}, {sql_literal(c)}) END"
    )


def render_sql(
    events: DataFrame,
    payload_cols: list[str] | None = None,
    minimal_update: bool = True,
    no_primary_key: bool = False,
    extra_cols: list[str] | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame:
    r"""Envelope -> (seq, sql) rows. Semantics per reference:

    - INSERT (T1): INSERT INTO `db`.`tbl`(`c1`,...) VALUES(v1,...);
      generated columns excluded upstream (T6); --no-primary-key drops
      key columns from the column list (core/parser.go:1196-1204).
    - DELETE (T2): WHERE on the key columns of the before image.
    - UPDATE (T3): SET <changed or all cols from after> WHERE <keys from
      before>; minimal_update diffs before/after per column
      (core/parser.go:1367-1497).
    - DDL (F8 upgraded to T): when the stream carries a `statement`
      column, op='ddl' rows emit `USE \`db\`;\n<ddl>;` (the reference's
      Query-event passthrough, core/parser.go:2314-2339) instead of
      being silently dropped from the SQL file. DDL is never inverted —
      flashback paths filter it out before rendering.

    The statement template is one SQL expression string (see
    functions.sqltext), so building the plan costs a few gateway calls
    whatever the column count."""
    cols = payload_cols or S.payload_columns()
    keys = key_cols or KEY_COLS  # a schema-file registry may override (ddl.py)
    ins_cols = [c for c in cols if not (no_primary_key and c in keys)]

    tbl = _qualified("`db`", "`table`")
    insert_sql = (
        f"concat('INSERT INTO ', {tbl}, {_col_list(ins_cols)}, ' VALUES(', "
        f"{_values(ins_cols)}, ');')"
    )
    where = _concat_ws(" AND ", [_where_eq("before", k) for k in keys])
    delete_sql = f"concat('DELETE FROM ', {tbl}, ' WHERE ', {where}, ';')"

    def set_frag(c: str) -> str:
        a = field("after", c)
        frag = f"concat({str_lit(f'`{c}`=')}, {sql_literal(a)})"
        if not minimal_update:
            return frag
        # NULL when unchanged -> concat_ws skips it
        return f"CASE WHEN NOT ({field('before', c)} <=> {a}) THEN {frag} END"

    set_list = _concat_ws(",", [set_frag(c) for c in cols])
    update_sql = (
        f"concat('UPDATE ', {tbl}, ' SET ', {set_list}, ' WHERE ', {where}, ';')"
    )

    whens = [
        f"WHEN `op` = {str_lit(S.OP_INSERT)} THEN {insert_sql}",
        f"WHEN `op` = {str_lit(S.OP_DELETE)} THEN {delete_sql}",
        f"WHEN `op` = {str_lit(S.OP_UPDATE)} THEN {update_sql}",
    ]
    keep = "`op` IN (" + ", ".join(str_lit(op) for op in S.DML_OPS) + ")"
    if "statement" in events.columns:
        ddl_sql = (
            f"concat('USE `', `db`, {str_lit(_DDL_USE_TAIL)}, "
            f"regexp_replace(`statement`, {str_lit(_TRAILING_SEMI)}, ''), ';')"
        )
        whens.append(f"WHEN `op` = {str_lit(S.OP_DDL)} THEN {ddl_sql}")
        keep = f"{keep} OR (`op` = {str_lit(S.OP_DDL)} AND `statement` IS NOT NULL)"
    sql = "CASE " + " ".join(whens) + " END"
    return events.filter(keep).selectExpr(
        "seq", "gtid_uuid", "gno", "ts", "thread_id", f"{sql} AS sql", *(extra_cols or [])
    )


def decorate(
    rendered: DataFrame,
    show_gtid: bool = True,
    show_time: bool = True,
    time_mode: str = "second",
    show_thread: bool = False,
    block_size: int = 1 << 16,
) -> DataFrame:
    """S6 — output decoration (myWrite core/parser.go:674-724): a GTID
    comment line when the GTID changes, `; # <ts>` appended on the first
    row of each second (`time_mode="second"`) or on EVERY row
    (`time_mode="row"`, the reference's every-row option), and an
    optional ` # thread_id=N` suffix (`show_thread`, the reference's
    ShowThread flag).

    Scale shape: a global `Window.orderBy(seq)` funnels the whole
    dataset into ONE task — a single-task OOM at 100x. Instead the rows
    are range-partitioned on their seq-block `_blk = floor(seq /
    block_size)`, the lag runs per block (`PARTITION BY _blk ORDER BY
    seq`, parallel across blocks) and each block's FIRST row is patched
    with a carry — the (gtid, sec) of the last row of the nearest
    preceding non-empty block, computed by one ordered window over the
    per-block aggregate (one row per non-empty block) and broadcast
    back. Identical output to the global window, including across
    block-spanning seq gaps.

    The carry holds N/block_size rows only for dense seqs. A binlog seq
    is `offset << 12 | row`, so a 65,536-seq block spans 16 bytes of
    file offset: every rows event is its own block, and the carry holds
    one row per rows event.

    The result keeps `_blk` and stays on that ONE range exchange, sorted
    by (_blk, seq) within each partition: ordering it by (_blk, seq) —
    the same order as seq — costs no further exchange or sort. The
    carry aggregate reads `rendered` a second time, so a caller that
    executes the result should persist `rendered` first (write_sql_file
    does) or its source is computed twice."""
    extra = []
    if show_thread:
        extra.append(
            ("thread_comment", "concat(' # thread_id=', CAST(thread_id AS STRING))")
        )
    sec = "date_trunc('second', ts)"
    time_fmt = f"concat('; # ', date_format({sec}, 'yyyy-MM-dd HH:mm:ss'))"
    if show_time and time_mode == "row":
        extra.append(("time_comment", time_fmt))
        show_time = False  # no lag needed for the every-row mode
    keep = [ident(c) for c in rendered.columns] + [name for name, _ in extra] + ["_blk"]
    out = rendered.selectExpr(
        "*", *[f"{e} AS {name}" for name, e in extra], f"floor(seq / {block_size}) AS _blk"
    )
    if not (show_gtid or show_time):
        return out.repartitionByRange("_blk")

    out = out.selectExpr(
        "*", "concat(gtid_uuid, ':', CAST(gno AS STRING)) AS _g", f"{sec} AS _s"
    )
    w = "OVER (PARTITION BY _blk ORDER BY seq)"
    # carry: last (gtid, sec) of each non-empty block, shifted to the
    # NEXT non-empty block by one ordered window over the block rows
    # (one per non-empty block, broadcast whole)
    carry = (
        out.groupBy("_blk")
        .agg(F.expr("max_by(struct(_g, _s), seq) AS _c"))
        .selectExpr("_blk", "lag(_c) OVER (ORDER BY _blk) AS _prev")
    )
    out = out.repartitionByRange("_blk").selectExpr(
        "*",
        f"row_number() {w} AS _rn",
        f"lag(_g) {w} AS _lag_g",
        f"lag(_s) {w} AS _lag_s",
    ).join(F.broadcast(carry), "_blk", "left")
    prev_g = "CASE WHEN _rn = 1 THEN _prev._g ELSE _lag_g END"
    prev_s = "CASE WHEN _rn = 1 THEN _prev._s ELSE _lag_s END"
    comments = []
    if show_gtid:
        comments.append(
            f"CASE WHEN ({prev_g}) IS NULL OR ({prev_g}) != _g "
            "THEN concat('# GTID ', _g) END AS gtid_comment"
        )
    if show_time:
        comments.append(
            f"CASE WHEN ({prev_s}) IS NULL OR ({prev_s}) != _s "
            f"THEN {time_fmt} END AS time_comment"
        )
    return out.selectExpr(*keep, *comments)


def _render_with_registry(ev: DataFrame, registry: dict, render_one) -> DataFrame:
    """Per-table rendering under a schema-file registry (ddl.py): one
    render branch per registered table, each with that table's
    valid_columns (generated excluded, T6) and key_columns (PRI > UNI,
    T9), unioned back into one seq-ordered stream — the Spark shape of
    the reference's per-TableID metadata lookup (tableCacheList,
    core/parser.go:2094-2108). Registry size is a handful of tables
    (metadata-scale); each branch's (db, table) filter pushes into the
    shared scan.

    A registered column missing from the stream's payload struct fails
    LOUDLY — silently rendering NULLs for a typo'd schema file is the
    drift bug the registry exists to prevent."""
    import logging

    payload_fields = [f.name for f in ev.schema["after"].dataType.fields]
    parts: list[DataFrame] = []
    claimed: list[str] = []
    # db-QUALIFIED entries claim their events first (ddl.lookup /
    # cacheNewTable precedence): an unqualified `t` declared before
    # `db1.t` must not swallow db1's events via the earlier claim guard
    ordered = sorted(registry.items(), key=lambda kv: (not kv[1].db, kv[0]))
    for key, meta in ordered:
        unknown = [c for c in meta.valid_columns if c not in payload_fields]
        if unknown:
            raise ValueError(
                f"schema file table {key!r} declares columns {unknown} that the "
                f"event stream's payload struct lacks (has {payload_fields})"
            )
        match = f"lower(`table`) = {str_lit(meta.table.lower())}"
        if meta.db:
            match += f" AND lower(`db`) = {str_lit(meta.db.lower())}"
        # qualified/earlier entries take precedence
        cond = f"({match})" + "".join(f" AND NOT ({m})" for m in claimed)
        claimed.append(match)
        parts.append(
            render_one(
                ev.filter(cond),
                payload_cols=meta.valid_columns,
                key_cols=meta.key_columns,
            )
        )
    logging.getLogger("bingo2sql_spark.render").info(
        "schema-file registry active: rendering %d table(s); events of "
        "unregistered tables are skipped (reference local-mode semantics)",
        len(registry),
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def write_sql_file(
    events: DataFrame,
    out_dir: str,
    *,
    flashback: bool = False,
    show_gtid: bool = True,
    show_time: bool = True,
    time_mode: str = "second",
    show_thread: bool = False,
    minimal_update: bool = True,
    minimal_insert: bool = False,
    no_primary_key: bool = False,
    compression: str | None = None,
    table_registry: dict | None = None,
) -> None:
    """S5/S7 — the reference's user-facing artifact: an ordered SQL text
    file (single-writer funnel core/parser.go:844-857 replaced by a
    global sort; tar.gz Archive core/parser.go:2460-2485 replaced by the
    writer's codec option).

    Emits one text part per range of seq-blocks: decorate's
    repartitionByRange(_blk) keeps the global order across files
    (part-00000 < part-00001 ...), and the artifact's (_blk, seq) order
    is seq order, so that ONE range exchange serves both the decoration
    window and the sort. Pass the result of operators.flashback.invert
    for rollback files — ascending seq on inverted events IS reverse
    binlog order, so no special casing.

    Source scanned once: the rendered rows are persisted for the
    duration of the write, so decorate's block carry and its window read
    the same computed rows, and the input events are persisted too when
    the render itself reads them more than once (the --minimal-insert
    run carry and statements, a multi-table registry). A binlog file is
    thus decoded once per artifact. Both caches are released in a
    `finally`, also when the write raises.

    `table_registry` (ddl.parse_schema_file output — the reference's
    local-mode schema resolution) renders each event with ITS table's
    metadata: generated columns excluded, that table's PRI/UNI key in
    the WHERE clause. Events whose (db, table) resolves to no registry
    entry are dropped, like the reference's uncached-table skip."""
    from bingo2sql_spark.operators import flashback as FB

    ev = FB.invert(events) if flashback else events
    inline = minimal_insert and not flashback

    def _render(part: DataFrame, payload_cols=None, key_cols=None) -> DataFrame:
        if inline:
            return render_sql_inline(
                part,
                payload_cols,
                minimal_update=minimal_update,
                no_primary_key=no_primary_key,
                key_cols=key_cols,
            )
        # flashback inverts inserts into deletes, so there is nothing to
        # batch on the rollback path (reference likewise only batches
        # forward inserts)
        return render_sql(
            part,
            payload_cols,
            minimal_update=minimal_update,
            no_primary_key=no_primary_key,
            key_cols=key_cols,
        )

    tail = ["sql"]
    if show_time:
        tail.append("coalesce(regexp_replace(time_comment, '^; # ', ' # '), '')")
    if show_thread:
        tail.append("coalesce(thread_comment, '')")
    line = _concat_ws("\n", [*(["gtid_comment"] if show_gtid else []), f"concat({', '.join(tail)})"])
    cached: list[DataFrame] = []
    try:
        # the inline renderer's run carry and statement branches, and a
        # registry's per-table branches, read their input more than once
        if inline or len(table_registry or ()) > 1:
            ev = ev.persist()
            cached.append(ev)
        if table_registry:
            rendered = _render_with_registry(ev, table_registry, _render)
        else:
            rendered = _render(ev)
        # decorate's carry and its window both read the rendered rows
        rendered = rendered.persist()
        cached.append(rendered)
        out = (
            decorate(rendered, show_gtid, show_time, time_mode, show_thread)
            .selectExpr("_blk", "seq", f"{line} AS value")
            .orderBy("_blk", "seq")
            .selectExpr("value")
        )
        w = out.write.mode("overwrite")
        if compression:
            w = w.option("compression", compression)
        w.text(out_dir)
    finally:
        for df in cached:
            df.unpersist()


def archive_sql_artifact(out_dir: str, remove_original: bool = True) -> tuple[str, int]:
    """S7 — the reference's Archive() (core/parser.go:2460-2485): pack
    the finished SQL artifact into `<out_dir>.tar.gz`, report its size,
    and delete the original (the reference's post-archive clear()).
    Part files are stored in lexicographic order, so extracting and
    concatenating part-* reproduces the globally ordered SQL text
    byte-for-byte.

    Driver-local by design: the artifact is the single ordered text
    output a human downloads (parse/bingo2sql.go:207-225 serves exactly
    this tar.gz); at cluster scale the parts live on shared storage and
    this runs wherever the download service does."""
    import shutil
    import tarfile

    if not os.path.isdir(out_dir):
        raise FileNotFoundError(f"no SQL artifact directory at {out_dir}")
    url = out_dir.rstrip("/") + ".tar.gz"
    base = os.path.basename(out_dir.rstrip("/"))
    with tarfile.open(url, "w:gz") as tar:
        for name in sorted(os.listdir(out_dir)):
            if name.startswith(("part-", "_SUCCESS")) or name.endswith(".txt"):
                tar.add(os.path.join(out_dir, name), arcname=f"{base}/{name}")
    size = os.stat(url).st_size
    if remove_original:
        shutil.rmtree(out_dir)
    return url, size


def _run_start(prev: str, cur: str = "") -> str:
    """SQL text: the seq of the event `cur` (a struct prefix such as
    `_first.`, or '' for the row itself) when it starts an insert run —
    it is anything but an INSERT into the same (db, table) as the event
    `prev` (NULL: no preceding event) — else NULL."""
    ins = str_lit(S.OP_INSERT)
    extends = (
        f"{cur}op = {ins} AND {prev}.op = {ins} AND {prev}.db = {cur}db "
        f"AND {prev}.`table` = {cur}`table`"
    )
    return f"CASE WHEN coalesce({extends}, false) THEN NULL ELSE {cur}seq END"


def with_insert_runs(events: DataFrame, block_size: int = 1 << 16) -> DataFrame:
    """Adds `_run`: an id shared by each maximal run of CONSECUTIVE
    (in seq order) same-(db,table) INSERT events — the unit the
    reference's `--minimal-insert` batches into one multi-row statement
    (core/parser.go:1164-1240). A run breaks on ANY intervening event
    (update/delete/ddl, or an insert into another table), so replaying
    the batched output in seq order can never reorder an insert past a
    statement it originally preceded.

    Scalable prefix computation (no global window): each row's previous
    event is a `lag` per seq-block (hash-partitioned on `_blk`), and the
    block boundaries are patched from ONE carry over the per-block
    aggregate of those windowed rows (one row per non-empty block —
    for binlog seqs one per rows event, see decorate — broadcast
    once): `lag` of each block's last event is the previous event of
    the next block's first row, and a running max of the blocks' run
    starts is the run still open where each block begins. Non-insert
    rows get singleton run ids and are simply never batched.

    The run id IS the run's starting seq (the nearest preceding break
    row's seq), not a break count: downstream batch chunking is then
    pure seq arithmetic — `floor((seq - _run)/batch_rows)` — and never
    needs a per-run window, so a bulk-load run of 10^10 inserts (ONE
    `_run` value) costs nothing beyond the bounded per-block windows."""
    w = "PARTITION BY _blk ORDER BY seq"
    ev = events.selectExpr("*", f"floor(seq / {block_size}) AS _blk").selectExpr(
        "*", f"lag(struct(op, db, `table`)) OVER ({w}) AS _lagp"
    )
    # one row per block: last and first event, largest in-block run start
    blocks = ev.groupBy("_blk").agg(
        F.expr("max_by(struct(op, db, `table`), seq) AS _last"),
        F.expr("min_by(struct(seq, op, db, `table`), seq) AS _first"),
        F.expr(f"max(CASE WHEN _lagp IS NOT NULL THEN {_run_start('_lagp')} END) AS _bs"),
    )
    carry = blocks.selectExpr(
        "_blk", "_first", "_bs", "lag(_last) OVER (ORDER BY _blk) AS _pc"
    ).selectExpr(
        "_blk",
        "_pc",
        f"max(greatest(_bs, {_run_start('_pc', '_first.')})) OVER (ORDER BY _blk "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS _cs",
    )
    start = _run_start("coalesce(_lagp, _pc)")
    run = f"last({start}, true) OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    return (
        ev.join(F.broadcast(carry), "_blk", "left")
        .selectExpr("*", f"coalesce({run}, _cs) AS _run")
        .drop("_blk", "_lagp", "_pc", "_cs")
    )


def _batched_insert_stmts(
    runs: DataFrame,
    payload_cols: list[str],
    batch_rows: int,
    no_primary_key: bool = False,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Multi-row INSERT statements from a `with_insert_runs` stream:
    one statement per (run, batch_rows-chunk), anchored at the run
    chunk's first event (seq + header columns), tuples in seq order.

    Skew-proof chunking: `_run` is the run's starting seq, so the chunk
    id is pure arithmetic — `floor((seq - _run)/batch_rows)` — with NO
    per-run window. The only shuffle is the (run, chunk) groupBy, whose
    reduce-side groups hold at most batch_rows rows regardless of run
    length: the canonical CDC bulk load (one run of 10^9-10^10 inserts)
    spreads across ~10^7-10^8 chunk groups instead of one window task.
    Runs with dense seq (any unfiltered stream) chunk identically to
    row-count chunking; on a pre-filtered stream with seq gaps a chunk
    may hold FEWER than batch_rows tuples (never more, never crossing a
    run) — seq-aligned seams, an acceptable output difference."""
    ins_cols = [
        c for c in payload_cols if not (no_primary_key and c in (key_cols or KEY_COLS))
    ]
    ins = runs.filter(f"op = {str_lit(S.OP_INSERT)}").selectExpr(
        "seq", "gtid_uuid", "gno", "ts", "thread_id", "db", "`table`", "_run",
        f"concat('(', {_values(ins_cols)}, ')') AS _tuple",
        f"floor((seq - _run) / {batch_rows}) AS _chunk",
    )
    sql = (
        f"concat('INSERT INTO ', {_qualified('_a.db', '_a.`table`')}, "
        f"{_col_list(ins_cols)}, ' VALUES', _vals, ';')"
    )
    return (
        ins.groupBy("_run", "_chunk")
        .agg(
            F.expr("min(seq) AS seq"),
            F.expr(
                "min_by(struct(gtid_uuid, gno, ts, thread_id, db, `table`), seq) AS _a"
            ),
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(seq, _tuple))), "
                "x -> x._tuple), ',') AS _vals"
            ),
        )
        .selectExpr(
            "seq",
            "_a.gtid_uuid AS gtid_uuid",
            "_a.gno AS gno",
            "_a.ts AS ts",
            "_a.thread_id AS thread_id",
            f"{sql} AS sql",
        )
    )


def render_sql_inline(
    events: DataFrame,
    payload_cols: list[str] | None = None,
    minimal_update: bool = True,
    no_primary_key: bool = False,
    batch_rows: int = 100,
    block_size: int = 1 << 16,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """The reference's default statement stream (`--minimal-insert` ON,
    core/parser.go:1164-1240): multi-row INSERT batches INLINE with
    updates/deletes/DDL, correctly interleaved by seq — a batch anchors
    at its first row's seq and never crosses a non-insert event or a
    table change (with_insert_runs), so replaying the file in order is
    equivalent to the per-row stream. Only the inserts need run ids: the
    other statements render straight from `events`, so the run windows
    are computed once."""
    cols = payload_cols or S.payload_columns()
    runs = with_insert_runs(events, block_size)
    others = render_sql(
        events.filter(f"op != {str_lit(S.OP_INSERT)}"),
        cols,
        minimal_update=minimal_update,
        no_primary_key=no_primary_key,
        key_cols=key_cols,
    )
    batched = _batched_insert_stmts(runs, cols, batch_rows, no_primary_key, key_cols)
    return batched.unionByName(others)


def render_multi_row_inserts(
    events: DataFrame,
    payload_cols: list[str] | None = None,
    batch_rows: int = 100,
) -> DataFrame:
    """T1 `--minimal-insert` statements only (the insert side of
    render_sql_inline). Pass the FULL event stream, not a pre-filtered
    insert set: run boundaries are computed from the intervening
    events, so same-table inserts separated by an UPDATE/DELETE land in
    separate statements (reference batches only within one RowsEvent,
    core/parser.go:1175-1240). Output: (seq of first row, sql)."""
    cols = payload_cols or S.payload_columns()
    # project early (guide §2.3): the run window shuffles its input, and
    # this insert-only renderer never reads the before image — dropping
    # it (and other unused columns) before with_insert_runs roughly
    # halves the window exchange's bytes on a full DML stream
    needed = ["seq", "gtid_uuid", "gno", "ts", "thread_id", "db", "table", "op", "after"]
    runs = with_insert_runs(events.select(*[c for c in needed if c in events.columns]))
    return _batched_insert_stmts(runs, cols, batch_rows).select("seq", "sql")
