"""Per-key last-writer-wins resolution and the MERGE upsert projection.

The reference gets total order for free (single-threaded apply through
one channel, core/parser.go:844-857). Distributed, only per-key order is
needed for final-state correctness — upserts commute across keys
(SURVEY.md §7.4#2). A micro-batch may touch one (repo, path) many times;
the table commit's merge aggregate collapses each key to its last
writer by source seq, so the batch path only projects upsert rows here.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from bingo2sql_spark import schema as S
from bingo2sql_spark.functions.sqltext import field, ident, sql_over, str_lit

# Every plan here is SQL text handed to Spark in one statement (see
# functions.sqltext): a Column tree costs a py4j round trip per node.


def with_key(events: DataFrame) -> DataFrame:
    """Materialize merge-key columns from whichever image is present
    (insert: after only; delete: before only), replacing columns of the
    same name."""
    keyed = {k: f"coalesce({field('after', k)}, {field('before', k)})" for k in S.MERGE_KEYS}
    cols = [f"{keyed.pop(c)} AS {ident(c)}" if c in keyed else ident(c) for c in events.columns]
    cols += [f"{e} AS {ident(k)}" for k, e in keyed.items()]
    return sql_over(events, lambda rel: f"SELECT {', '.join(cols)} FROM {rel}")


def lww_resolve(events: DataFrame) -> DataFrame:
    """Collapse each (repo, path) to its last writer.

    Ordering: global binlog order `seq` (file/pos flattened), which in
    the synthetic stream is consistent with lexically-monotone `commit`
    — matching the north rule's (commit, event-seq) ordering. Flashback
    inputs arrive with negated seq (operators.flashback), so the same
    ascending semantics yield reverse replay for free.

    Exact duplicate deliveries (same seq re-delivered after a source
    retry) are already collapsed by the aggregation — the winner is one
    of the identical copies — so no separate dropDuplicates shuffle is
    needed.

    Implementation: groupBy(keys).agg(max_by(row, seq)) instead of a
    row_number window. Same winner, but the aggregate gets MAP-SIDE
    partial combine: with v versions per key the shuffle moves ~1/v of
    the data a window sort would move — the difference between 35k and
    100k+ events/s locally, and the difference between a sort-based and
    a combine-based exchange at 10^10 events."""
    ev = with_key(events)
    row_cols = [c for c in ev.columns if c not in S.MERGE_KEYS]
    keys = ", ".join(map(ident, S.MERGE_KEYS))
    out = ", ".join(f"_w.{ident(c)} AS {ident(c)}" for c in row_cols)
    return sql_over(
        ev,
        lambda rel: f"SELECT {keys}, {out} FROM (SELECT {keys}, "
        f"max_by(struct({', '.join(map(ident, row_cols))}), seq) AS _w "
        f"FROM {rel} GROUP BY {keys})",
    )


def to_upsert_rows(
    events: DataFrame,
    columns: Sequence[str] = tuple(S.payload_columns()),
    *,
    sources: dict[str, list[tuple[int | None, str]]] | None = None,
    minimal: bool = False,
) -> DataFrame:
    """Project events (keys materialized by with_key) to MERGE source
    rows: the merge keys, `columns`' values, the `_deleted` tombstone
    flag and `_seq`/`_log_file`/`_log_pos` provenance. Keys may repeat;
    the table commit's merge is the per-key LWW.

    `sources` is a DDL timeline (pipeline.EvolutionPlan.sources): per
    column its WIRE-NAME segments, ascending [(from_seq | None,
    wire_name), ...]. An event at seq s reads the column from the wire
    field of the segment covering s (`CASE WHEN seq >= s_k THEN
    after.n_k ... ELSE after.n_0 / NULL`): a column ADDed at seq s is
    NULL for earlier events even if wire bytes raced the ALTER, and a
    CHANGE-renamed column draws old-name bytes before the ALTER and
    new-name bytes after it. A column without a timeline reads its own
    name for every event (the identity timeline); one the envelope does
    not carry at all projects as a typed NULL (added-column NULL-fill).
    Values land as text — evolved tables store uniform text, and a typed
    wire field (e.g. a bigint ADDed column) must not mix physical
    parquet types under one manifest column; over string payloads the
    cast folds away. Entirely a projection: no extra pass.

    minimal=True is the MINIMAL row-image shape (binlog_row_image=
    MINIMAL, core/parser_test.go:727-755): rows also carry `_col_seqs`,
    the merge's per-column attribution map, with a NULL-valued
    (never-written) entry for each column an update does not carry and
    a NULL map for full images, so IcebergLiteTable.commit merges per
    column and unchanged columns do not clobber stored values. INSERT
    images are complete, so a re-insert after a DELETE re-supplies
    every column and per-column last-present-writer cannot leak a
    pre-delete value. Under a timeline the carried set follows the same
    renames and masks: a changed-list entry equal to a column's wire
    name AT THE EVENT'S SEQ carries the final name (an entry outside
    its validity window stays untranslated and inert), and an ADDed
    column is not carried by pre-ALTER events, so a wire update racing
    the DDL can neither write the value nor claim presence."""
    sources = sources or {}
    after_fields = set(events.schema["after"].dataType.fieldNames())

    def wire(name: str) -> str:
        if name in after_fields:
            return f"CAST({field('after', name)} AS STRING)"
        return "CAST(NULL AS STRING)"

    proj = [ident(k) for k in S.MERGE_KEYS]
    for c in columns:
        if c in S.MERGE_KEYS:
            continue
        # later segments override earlier ones: build the CASE from the
        # earliest boundary up, each `WHEN` stacked on top
        expr = "CAST(NULL AS STRING)"
        for lo, name in sources.get(c) or [(None, c)]:
            expr = wire(name) if lo is None else (
                f"CASE WHEN seq >= {int(lo)} THEN {wire(name)} ELSE {expr} END"
            )
        proj.append(f"{expr} AS {ident(c)}")
    proj.append(f"op = {str_lit(S.OP_DELETE)} AS _deleted")
    proj += ["seq AS _seq", "log_file AS _log_file", "log_pos AS _log_pos"]
    if minimal:
        # the sparse never-written markers of apply._per_key_winners
        data_cols = ", ".join(str_lit(c) for c in columns if c not in S.MERGE_KEYS)
        carried = _presence(sources)
        uncarried = f"array_except(CAST(array({data_cols}) AS ARRAY<STRING>), {carried})"
        nulls = f"transform({uncarried}, x -> CAST(NULL AS BIGINT))"
        proj.append(f"map_from_arrays({uncarried}, {nulls}) AS _col_seqs")
    return sql_over(events, lambda rel: f"SELECT {', '.join(proj)} FROM {rel}")


def _presence(sources: dict[str, list[tuple[int | None, str]]]) -> str:
    """The columns a MINIMAL update carries under a DDL timeline, NULL
    for full images (to_upsert_rows), as SQL text."""
    mask = f"CAST(CASE WHEN op = {str_lit(S.OP_UPDATE)} THEN changed_cols END AS ARRAY<STRING>)"
    # rename translation FIRST: each segment's window is [its seq, next
    # segment's seq)
    rename_rules = [
        (c, lo, segs[i + 1][0] if i + 1 < len(segs) else None, name)
        for c, segs in sources.items()
        for i, (lo, name) in enumerate(segs)
        if name != c
    ]
    if rename_rules:
        expr = "x"
        for c, lo, hi, name in rename_rules:
            cond = f"x = {str_lit(name)}"
            if lo is not None:
                cond += f" AND seq >= {int(lo)}"
            if hi is not None:
                cond += f" AND seq < {int(hi)}"
            expr = f"CASE WHEN {cond} THEN {str_lit(c)} ELSE {expr} END"
        mask = f"transform({mask}, x -> {expr})"
    for c, segs in sources.items():
        lo = segs[0][0]
        if lo is not None:
            mask = f"filter({mask}, x -> NOT (x = {str_lit(c)} AND seq < {int(lo)}))"
    return mask
