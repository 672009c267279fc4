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
from pyspark.sql import functions as F

from bingo2sql_spark import schema as S


def with_key(events: DataFrame) -> DataFrame:
    """Materialize merge-key columns from whichever image is present
    (insert: after only; delete: before only)."""
    out = events
    for k in S.MERGE_KEYS:
        out = out.withColumn(k, F.coalesce(F.col(f"after.{k}"), F.col(f"before.{k}")))
    return out


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
    winner = F.max_by(F.struct(*row_cols), F.col("seq")).alias("_w")
    return (
        ev.groupBy(*S.MERGE_KEYS)
        .agg(winner)
        .select(*S.MERGE_KEYS, "_w.*")
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

    def wire(name: str):
        if name in after_fields:
            return F.col(f"after.{name}").cast("string")
        return F.lit(None).cast("string")

    proj = [F.col(k) for k in S.MERGE_KEYS]
    for c in columns:
        if c in S.MERGE_KEYS:
            continue
        # later segments override earlier ones: build the CASE from the
        # earliest boundary up, each `when` stacked on top
        expr = F.lit(None).cast("string")
        for lo, name in sources.get(c) or [(None, c)]:
            expr = wire(name) if lo is None else F.when(
                F.col("seq") >= F.lit(lo), wire(name)
            ).otherwise(expr)
        proj.append(expr.alias(c))
    proj.append((F.col("op") == S.OP_DELETE).alias("_deleted"))
    proj.append(F.col("seq").alias("_seq"))
    proj.append(F.col("log_file").alias("_log_file"))
    proj.append(F.col("log_pos").alias("_log_pos"))
    if minimal:
        # the sparse never-written markers of apply._per_key_winners
        data_cols = F.array(*[F.lit(c) for c in columns if c not in S.MERGE_KEYS])
        uncarried = F.array_except(data_cols.cast("array<string>"), _presence(sources))
        nulls = F.transform(uncarried, lambda _c: F.lit(None).cast("bigint"))
        proj.append(F.map_from_arrays(uncarried, nulls).alias("_col_seqs"))
    return events.select(*proj)


def _presence(sources: dict[str, list[tuple[int | None, str]]]):
    """The columns a MINIMAL update carries under a DDL timeline, NULL
    for full images (to_upsert_rows)."""
    mask = F.when(F.col("op") == S.OP_UPDATE, F.col("changed_cols")).cast(
        "array<string>"
    )
    # rename translation FIRST: each segment's window is [its seq, next
    # segment's seq)
    rename_rules = [
        (c, lo, segs[i + 1][0] if i + 1 < len(segs) else None, name)
        for c, segs in sources.items()
        for i, (lo, name) in enumerate(segs)
        if name != c
    ]
    if rename_rules:

        def _tr(x):
            expr = x
            for c, lo, hi, name in rename_rules:
                cond = x == F.lit(name)
                if lo is not None:
                    cond = cond & (F.col("seq") >= F.lit(lo))
                if hi is not None:
                    cond = cond & (F.col("seq") < F.lit(hi))
                expr = F.when(cond, F.lit(c)).otherwise(expr)
            return expr

        mask = F.transform(mask, _tr)

    def _drop_pre_alter(m, col, lo):
        # factory, not default-arg capture: pyspark reads the lambda's
        # full parameter count as the higher-order-function arity
        return F.filter(m, lambda x: ~((x == F.lit(col)) & (F.col("seq") < F.lit(lo))))

    for c, segs in sources.items():
        lo = segs[0][0]
        if lo is not None:
            mask = _drop_pre_alter(mask, c, lo)
    return mask
