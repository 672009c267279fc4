"""Binlog binary decode throughput vs the reference's published number.

The reference's docs/test.md yardstick: a 357,491,554-byte binlog file
parses in ~13.5 s single-node ≈ 26 MB/s ≈ 145k change-rows/s (SQL-text
output). This bench times OUR decode of real-format binlog v4 bytes —
`binaryFile` scan → mapInArrow BinlogEventParser → typed envelope
(decode_events) → count — across N rotated files in parallel (files
are the rotation-bounded unit of parallelism, so a backlog decodes on
as many cores as it has files).

Before Spark starts, the same files are parsed once in this process
with `parse_binlog_bytes` (no Spark, no Arrow): `parse_cpu_s_per_mb` is
that pass's CPU seconds per MB of binlog, the decoder's own cost.

Usage: python BENCH/binlog_decode_bench.py [--files 8] [--rows 150000]
       [--cores 16]
Prints one JSON line {bytes, rows, secs, mb_per_sec, rows_per_sec,
parse_cpu_s_per_mb, parse_rows_per_cpu_s}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_files(out_dir: str, n_files: int, rows_per_file: int) -> int:
    from bingo2sql_spark.sources.binlog_binary import (
        T_VARCHAR, BinlogWriter,
    )

    types = [T_VARCHAR] * 4
    meta = [120, 600, 160, 600]
    total = 0
    for fi in range(1, n_files + 1):
        w = BinlogWriter(checksum=True)
        w.gtid("8a2f1e60-0000-11ee-be56-0242ac120001", fi, ts=1704067200)
        w.query("BEGIN", db="test", thread_id=1, ts=1704067200)
        w.table_map("test", "repo_files", types, meta, ts=1704067200)
        base = (fi - 1) * rows_per_file
        for lo in range(0, rows_per_file, 1000):
            w.rows(
                "test", "repo_files", "insert", types, meta,
                [[f"r{(base + i) % 50}", f"path/to/file_{base + i}.py",
                  f"c{(base + i) % 997:04x}",
                  f"content body {(base + i)} lorem ipsum dolor sit amet " * 2]
                 for i in range(lo, min(lo + 1000, rows_per_file))],
                ts=1704067200,
            )
        w.xid(fi, ts=1704067200)
        data = w.bytes()
        with open(os.path.join(out_dir, f"mysql-bin.{fi:06d}"), "wb") as f:
            f.write(data)
        total += len(data)
    return total


def parse_cpu(files: list[str], names: dict) -> tuple[float, int]:
    """Single-process parse of every file -> (CPU seconds, rows)."""
    from bingo2sql_spark.sources.binlog_binary import parse_binlog_bytes

    cpu = 0.0
    rows = 0
    for path in files:
        with open(path, "rb") as f:
            data = f.read()
        t0 = time.process_time()
        rows += sum(
            1 for _ in parse_binlog_bytes(
                data, log_file=os.path.basename(path), names_for=names
            )
        )
        cpu += time.process_time() - t0
    return cpu, rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--files", type=int, default=8)
    ap.add_argument("--rows", type=int, default=150_000)
    ap.add_argument("--cores", type=int, default=16)
    args = ap.parse_args()

    from bingo2sql_spark.session import get_spark
    from bingo2sql_spark.sources.binlog_binary import binlog_raw_events
    from bingo2sql_spark.sources.decode import decode_events

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    d = tempfile.mkdtemp(prefix="binlog_bench_", dir=base)
    try:
        nbytes = build_files(d, args.files, args.rows)
        names = {"test.repo_files": ["repo", "path", "commit", "content"]}
        p_cpu, p_rows = parse_cpu(
            [os.path.join(d, f) for f in sorted(os.listdir(d))], names
        )
        spark = get_spark(
            "binlog-decode-bench", master=f"local[{args.cores}]",
            shuffle_partitions=args.cores,
        )
        # warmup (JIT + Arrow path) on one file
        decode_events(
            binlog_raw_events(spark, os.path.join(d, "mysql-bin.000001"), names)
        ).count()
        t0 = time.time()
        n = decode_events(binlog_raw_events(spark, d, names)).count()
        secs = time.time() - t0
        print(json.dumps({
            "files": args.files,
            "bytes": nbytes,
            "rows": n,
            "secs": round(secs, 2),
            "mb_per_sec": round(nbytes / 1e6 / secs, 1),
            "rows_per_sec": round(n / secs, 1),
            "cores": args.cores,
            "parse_cpu_s_per_mb": round(p_cpu / (nbytes / 1e6), 4),
            "parse_rows_per_cpu_s": round(p_rows / p_cpu, 1),
        }))
    finally:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
