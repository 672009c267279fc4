"""T4/T5 — flashback (rollback) inversion as pure column ops.

Reference semantics (dispatch core/parser.go:2352-2380):
  WRITE(insert)  -> DELETE   (generateDeleteSQL on the new image)
  DELETE         -> INSERT   (generateInsertSQL on the old image)
  UPDATE         -> inverse UPDATE: SET <old values> WHERE <new key>
                   (generateUpdateRollbackSQL core/parser.go:1499-1623)
and the emitted statements must be applied in REVERSE binlog order
(tests reverse the file: core/parser_test.go:806-811).

Spark-first: this is an op remap + before/after image swap + descending
sort key — zero UDFs. T5 (update rollback) falls out of the swap: after
swapping, the normal UPDATE generator/applier produces the rollback.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bingo2sql_spark import schema as S
from bingo2sql_spark.functions.sqltext import str_lit


def invert(events: DataFrame) -> DataFrame:
    """Remap ops and swap row images; DDL is never emitted in flashback
    mode (core/parser.go:2327 gate).

    seq mapping: seq' = -seq, so *ascending* seq' equals reverse binlog
    order — downstream LWW/apply stages need no flashback-awareness.
    Rollback SQL executed against the source becomes NEW log traffic
    past the current head; IcebergLiteTable.commit(rebase_past_head=True)
    models that by shifting the inverted seqs past the table's head, so
    they stay reverse-ordered among themselves and supersede every event
    the target has already absorbed under LWW-by-seq merge."""
    inv_op = (
        f"CASE WHEN op = {str_lit(S.OP_INSERT)} THEN {str_lit(S.OP_DELETE)} "
        f"WHEN op = {str_lit(S.OP_DELETE)} THEN {str_lit(S.OP_INSERT)} "
        f"ELSE {str_lit(S.OP_UPDATE)} END"
    )
    # withColumns evaluates every expression against the input row, so
    # the two images swap in one projection
    return events.filter(f"op != {str_lit(S.OP_DDL)}").withColumns({
        "before": F.expr("`after`"),
        "after": F.expr("`before`"),
        "op": F.expr(inv_op),
        "seq": F.expr("-seq"),
    })
