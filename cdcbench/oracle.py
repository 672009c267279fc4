"""DuckDB last-writer-wins oracle over landed change events.

The engine is never asked what the right answer is: the expected table
state is computed here, from the same landed parquet the engine reads,
by a single-process SQL engine with different code. State is the
BASELINE invariant: sorted (repo, path, sha256(content)) of live rows.
"""

from __future__ import annotations

import duckdb

#: FULL row images only: the workloads never land MINIMAL updates
_KEYED = """
    SELECT seq, op, log_file, log_pos,
           coalesce(after.repo, before.repo) AS repo,
           coalesce(after.path, before.path) AS path,
           before.content AS before_content,
           after.content AS after_content
    FROM {src}
    WHERE op <> 'ddl' AND lower("table") IN ({tables})
"""


def connect(tmp_dir: str | None = None) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(":memory:")
    con.execute("SET threads TO 1")
    if tmp_dir:
        con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


def parquet_source(glob: str) -> str:
    return f"read_parquet('{glob}', hive_partitioning = false)"


def _pos_cond(lo: tuple[str, int] | None, hi: tuple[str, int] | None) -> str:
    conds = []
    if lo is not None:
        conds.append(f"(log_file, log_pos) >= ('{lo[0]}', {int(lo[1])})")
    if hi is not None:
        conds.append(f"(log_file, log_pos) <= ('{hi[0]}', {int(hi[1])})")
    return " AND ".join(conds) or "TRUE"


def lww_state(
    con: duckdb.DuckDBPyConnection,
    src: str,
    *,
    tables: list[str],
    start: tuple[str, int] | None = None,
    stop: tuple[str, int] | None = None,
    initial: list[tuple] | None = None,
    flashback: bool = False,
) -> list[tuple]:
    """Sorted [(repo, path, sha256(content))] after applying the events
    of `src` within the inclusive (log_file, log_pos) range.

    Forward: per key the event with the highest seq wins; a delete
    leaves no row. Flashback (rollback of the range): per key the
    range's EARLIEST event is undone, so its before image is the state
    (nothing, when that event was the insert). Keys the range does not
    touch keep their `initial` row."""
    tl = ", ".join(f"'{t.lower()}'" for t in tables)
    keyed = _KEYED.format(src=src, tables=tl)
    order = "ASC" if flashback else "DESC"
    state_expr = (
        "CASE WHEN op = 'insert' THEN NULL ELSE before_content END"
        if flashback
        else "CASE WHEN op = 'delete' THEN NULL ELSE after_content END"
    )
    gone = "op = 'insert'" if flashback else "op = 'delete'"
    rows = con.execute(
        f"""
        WITH ev AS ({keyed} AND {_pos_cond(start, stop)}),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY repo, path ORDER BY seq {order}) AS rn
            FROM ev
        )
        SELECT repo, path, {gone} AS gone,
               sha256(coalesce({state_expr}, '')) AS h
        FROM ranked WHERE rn = 1
        """
    ).fetchall()
    state = {(r, p): h for r, p, h in (initial or [])}
    for repo, path, is_gone, h in rows:
        if is_gone:
            state.pop((repo, path), None)
        else:
            state[(repo, path)] = h
    return sorted((r, p, h) for (r, p), h in state.items())


def count_range(
    con: duckdb.DuckDBPyConnection,
    src: str,
    start: tuple[str, int] | None = None,
    stop: tuple[str, int] | None = None,
) -> int:
    """Events (all tables and ops) inside the inclusive position range."""
    return con.execute(
        f"SELECT count(*) FROM {src} WHERE {_pos_cond(start, stop)}"
    ).fetchone()[0]
