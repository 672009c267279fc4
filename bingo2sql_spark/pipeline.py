"""End-to-end batch replay: the new-engine lifecycle of SURVEY.md §3.4.

read events (partition-pruned) -> [decode] -> filters (F1-F8, Catalyst)
-> DDL evolution plan (given a table_meta) -> flashback remap (optional)
-> upsert projection -> MERGE into the Iceberg-lite table, whose merge
   aggregate is the per-key LWW (+ commit manifest + lineage + metrics)

`apply_batch` is that whole step from events to commit. Batch `replay`
runs it once per call and the CONTINUOUS streaming ingest
(streaming.pipeline.start_ingest) once per micro-batch, so the tail
applies exactly the same evolution semantics as a replay — the
reference handles DDL inline in its live loop (core/parser.go:2314-2339),
so must the tail.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame

from bingo2sql_spark import schema as S
from bingo2sql_spark.functions.sqltext import str_lit
from bingo2sql_spark.operators import filters as FL
from bingo2sql_spark.operators import flashback as FB
from bingo2sql_spark.operators import resolve as R
from bingo2sql_spark.operators.apply import IcebergLiteTable


@dataclass
class EvolutionPlan:
    """One batch's DDL timeline, resolved against a TableMeta.

    - `meta`: the registry entry AFTER applying the batch's ALTERs
      (apply_alter validated each — duplicate adds, missing columns,
      lossy narrowing are loud BEFORE anything mutates).
    - `sources`: per live column its WIRE-NAME timeline — ascending
      (from_seq | None, wire_name) segments; from_seq None = live since
      batch start. Renames draw old-name bytes before the ALTER's seq
      and new-name bytes after (a pure projection).
    - `drop_columns` / `rename_columns`: what the table commit must do
      to STORED data (origin names at batch start).
    - `evolved_cols`: the post-batch column set (generated excluded).
    - `applied_ddl_seq`: highest DDL seq consumed — the streaming
      restart cursor (DDL at or below it is already reflected in the
      caller's meta and must not re-apply).
    """

    meta: Any
    sources: dict[str, list[tuple[int | None, str]]] = field(default_factory=dict)
    drop_columns: list[str] = field(default_factory=list)
    rename_columns: dict[str, str] = field(default_factory=dict)
    evolved_cols: list[str] = field(default_factory=list)
    applied_ddl_seq: int | None = None
    #: MODIFY/CHANGE declared-type changes over STORED columns, as
    #: (stored-name-at-batch-start, new declared type) — input to the
    #: opt-in ddl.validate_stored_values conformance scan
    type_checks: list[tuple[str, str]] = field(default_factory=list)


def plan_ddl_evolution(
    ddl_rows: list,
    table_meta: Any,
    *,
    min_ddl_seq: int | None = None,
) -> EvolutionPlan:
    """Resolve a batch's op='ddl' rows ((seq, statement) records) into
    an EvolutionPlan. DDL events are metadata-scale (one per schema
    change), so the caller collects them; the evolution itself is a
    pure projection, costing nothing at any scale.

    `min_ddl_seq` (streaming restart): DDL rows at seq <= it were
    applied by an earlier attempt whose evolved meta the caller already
    holds — re-applying would raise 'column already exists' on the very
    replay that exactly-once re-delivery guarantees."""
    from bingo2sql_spark import ddl as DL

    meta = table_meta
    start_cols = [c.name for c in meta.columns]
    # per live column: its wire-name timeline (ascending (from_seq,
    # wire_name) segments; from_seq None = live since batch start)
    # and its STORED-table name at batch start (None = added here)
    history: dict[str, list[tuple[int | None, str]]] = {
        c: [(None, c)] for c in start_cols
    }
    origin: dict[str, str | None] = {c: c for c in start_cols}
    drop_cols: list[str] = []
    type_checks: list[tuple[str, str]] = []
    applied: int | None = None
    for r in sorted(ddl_rows, key=lambda r: r["seq"]):
        seq = int(r["seq"])
        if min_ddl_seq is not None and seq <= min_ddl_seq:
            continue
        applied = seq
        parsed = DL.parse_alter_table(r["statement"], default_db=meta.db)
        if parsed is None:
            continue
        db, tbl, actions = parsed
        if not actions or tbl.lower() != meta.table.lower() or (
            db and meta.db and db.lower() != meta.db.lower()
        ):
            continue
        # apply_alter first: it owns ALL validation (duplicate adds,
        # missing drops/renames, lossy type narrowing) and raises
        # loudly BEFORE the timeline mutates
        prev_types = {c.name.lower(): c.ctype for c in meta.columns}
        meta = DL.apply_alter(meta, actions)
        for kind, payload in actions:
            if kind == "add":
                history[payload.name] = [(seq, payload.name)]
                origin[payload.name] = None
            elif kind == "drop":
                name = next(n for n in history if n.lower() == payload.lower())
                history.pop(name)
                o = origin.pop(name)
                if o is not None:
                    drop_cols.append(o)
            elif kind == "change":
                old_name, new_col = payload
                name = next(n for n in history if n.lower() == old_name.lower())
                segs = history.pop(name)
                o = origin.pop(name)
                history[new_col.name] = segs + [(seq, new_col.name)]
                origin[new_col.name] = o
                if o is not None and new_col.ctype != prev_types.get(old_name.lower()):
                    type_checks.append((o, new_col.ctype))
            elif kind == "modify":
                # type-only change, no column-set delta — but stored
                # values may need a conformance scan (VERDICT r7 #4)
                name = next(
                    (n for n in history if n.lower() == payload.name.lower()), None
                )
                o = origin.get(name) if name else None
                if o is not None and payload.ctype != prev_types.get(
                    payload.name.lower()
                ):
                    type_checks.append((o, payload.ctype))
    # a column dropped then RE-ADDED (or claimed by a CHANGE rename)
    # within the batch keeps the NAME live, but the DROP still
    # applies to the stored values — MySQL drop semantics lose the
    # old values everywhere. The drop is therefore NEVER cancelled
    # here (ADVICE r7): commit() detects the same-batch name reuse
    # and rewrites every live bucket so untouched data files cannot
    # leak the dropped values through the reused name.
    rename_cols = {
        o: c
        for c, o in ((c, origin.get(c)) for c in history)
        if o is not None and o != c
    }
    return EvolutionPlan(
        meta=meta,
        sources=history,
        drop_columns=drop_cols,
        rename_columns=rename_cols,
        evolved_cols=[c.name for c in meta.columns if not c.generated],
        applied_ddl_seq=applied,
        type_checks=type_checks,
    )


def collect_ddl_rows(ev: DataFrame) -> list:
    """The batch's op='ddl' Query events — metadata-scale (one row per
    schema change), so the collect is a few rows at any data scale."""
    return (
        ev.filter(f"op = {str_lit(S.OP_DDL)} AND statement IS NOT NULL")
        .select("seq", "statement")
        .collect()
    )


def apply_batch(
    events: DataFrame,
    table: IcebergLiteTable,
    batch_id: str,
    *,
    flashback: bool = False,
    row_image: str = "FULL",
    table_meta: Any = None,
    min_ddl_seq: int | None = None,
    validate_stored: bool = False,
    **filter_kwargs: Any,
) -> tuple[dict[str, Any], EvolutionPlan | None]:
    """One batch of change events -> one table commit; the step batch
    replay and every streaming micro-batch share. Returns (the commit
    metrics, the batch's EvolutionPlan or None without `table_meta`).

    Filters run BEFORE any widening transform so Catalyst pushes them
    into the scan. Given `table_meta`, the batch's own op='ddl' rows are
    kept through the gates and planned into an EvolutionPlan against it
    (`min_ddl_seq`: see plan_ddl_evolution); `validate_stored` then
    scans the stored values of each MODIFY/CHANGEd column before
    anything is written. DDL rows leave the DML path, flashback inverts
    it (the commit rebases the inverted seqs past the table's head), and
    the keyed events project to upsert rows of the plan's column set and
    wire-name timeline — the table's merge aggregate IS the per-key LWW,
    so there is no pre-resolve pass. The commit applies the plan's drops
    and renames to the stored data."""
    if flashback and table_meta is not None:
        raise NotImplementedError(
            "flashback excludes DDL by definition (the reference skips "
            "DDL in flashback mode); evolve at batch boundaries instead"
        )
    if flashback and row_image == "MINIMAL":
        # same constraint as MySQL flashback tooling: rollback needs the
        # FULL before image; a MINIMAL stream never logged the unchanged
        # columns, so the inverted UPDATE would silently NULL them.
        raise NotImplementedError(
            "flashback over MINIMAL row images is not possible: unchanged "
            "columns were never logged (set binlog_row_image=FULL upstream, "
            "as the reference requires for flashback)"
        )
    if table_meta is not None:
        # the DDL events ARE the evolution signal — keep them through
        # the gates (they leave the DML path right below)
        filter_kwargs.setdefault("include_ddl", True)
    ev = FL.apply_filters(events, flashback=flashback, **filter_kwargs)
    plan: EvolutionPlan | None = None
    if table_meta is not None:
        if "statement" not in ev.columns:
            raise ValueError(
                "table_meta given but the stream has no `statement` column "
                "(op='ddl' Query events carry it)"
            )
        plan = plan_ddl_evolution(collect_ddl_rows(ev), table_meta, min_ddl_seq=min_ddl_seq)
        if validate_stored and plan.type_checks and table.latest_manifest():
            # reject the batch like MySQL rejects an ALTER over
            # nonconforming rows, before anything commits
            from bingo2sql_spark import ddl as DL

            DL.validate_stored_values(
                table.read(events.sparkSession), plan.type_checks, S.MERGE_KEYS
            )
    ev = ev.filter(f"op != {str_lit(S.OP_DDL)}")
    if flashback:
        ev = FB.invert(ev)
    columns, sources = (plan.evolved_cols, plan.sources) if plan else (S.payload_columns(), None)
    batch = R.to_upsert_rows(
        R.with_key(ev), columns, sources=sources, minimal=row_image == "MINIMAL"
    )
    metrics = table.commit(
        batch,
        batch_id,
        rebase_past_head=flashback,
        drop_columns=(plan.drop_columns if plan else None) or None,
        rename_columns=(plan.rename_columns if plan else None) or None,
    )
    return metrics, plan


def replay(
    events: DataFrame,
    table: IcebergLiteTable,
    batch_id: str,
    *,
    flashback: bool = False,
    row_image: str = "FULL",
    table_meta: "TableMeta | None" = None,
    validate_stored: bool = False,
    **filter_kwargs: Any,
) -> dict[str, Any]:
    """Replay a set of change events into the target table (apply_batch).
    Returns the commit metrics.

    Given `table_meta` (the table's registry entry — e.g. from
    ddl.parse_schema_file — naming its db/table and pre-batch columns),
    ALTER TABLE statements carried by the stream's own op='ddl' events
    drive the target table's schema — an ADD COLUMN takes effect at the
    ALTER's seq (events before it are masked to NULL even if wire bytes
    raced the DDL; stored rows NULL-backfill on read), a DROP COLUMN
    leaves the current schema at this commit (time travel still sees
    it), a CHANGE old new TYPE renames (stored values carry to the new
    name with NO bucket rewrite — manifest aliases; wire values switch
    source field at the ALTER's seq), a MODIFY validates the declared
    type change (loud on lossy narrowing — ddl.check_type_change).
    `validate_stored=True` additionally SCANS the stored values of each
    MODIFY/CHANGEd column and rejects the batch when existing text does
    not parse under the new declared type — MySQL's
    reject-on-nonconforming-ALTER (one pushed-down filter pass, opt-in
    because it reads the table before committing). Composes with
    row_image="MINIMAL" for the FULL statement surface.

    flashback=True applies the rollback of the events: rollback becomes
    NEW log traffic past the head (see flashback.py). Flashback excludes
    DDL (reference semantics, core/parser.go:2316) and needs FULL row
    images."""
    return apply_batch(
        events, table, batch_id,
        flashback=flashback,
        row_image=row_image,
        table_meta=table_meta,
        validate_stored=validate_stored,
        **filter_kwargs,
    )[0]
