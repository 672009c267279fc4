"""bingo2sql_spark — a PySpark-native CDC / incremental-ingest engine.

A brand-new engine (not a port) with the event semantics of
hanchuanchuan/bingo2sql (see SURVEY.md for the file:line parity map),
re-expressed Spark-first:

- ordered binlog-style change events (INSERT/UPDATE/DELETE with
  before/after row images, GTID + log-position ordering) as a DataFrame
  of envelope rows (`schema.ENVELOPE`),
- filter pack F1-F8 as pure Column predicates (Catalyst-pushable),
- flashback inversion (T4/T5) as a column remap + image swap,
- per-key last-writer-wins via window functions,
- MERGE-style upserts into an Iceberg-like snapshot/manifest table
  (`apply.IcebergLiteTable`) with idempotent commit manifests,
- Structured Streaming micro-batch ingest with checkpoint resume,
  per-batch metrics and per-partition lineage.

Reference parity citations in docstrings point into /root/reference
(bingo2sql @ 2024_10_08).
"""

__version__ = "0.2.0"

