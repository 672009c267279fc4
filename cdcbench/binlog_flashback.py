"""binlog_flashback: the reference's own job on one binlog v4 file.

Set-up writes one rotation-sized binlog file with `BinlogWriter` in the
shape of the reference's yardstick (docs/test.md): a base insert, two
partial updates and a delete of half the rows, at a reduced row count.
One op turns the binlog bytes into the flashback SQL artifact:
`binlog_raw_events` -> `decode_events` -> a start/stop-position range ->
`generate_sql(flashback=True)`, which writes the real text files. The
read sample is the same range scanned into the noop sink (binlog bytes
to decoded, filtered events, no render). `sources.binlog_binary` (one
file = one task) and `functions.render` do almost all the work;
`operators.apply` is never called.
"""

from __future__ import annotations

import os
import re
import shutil

from cdcbench import harness as H

NAME = "binlog_flashback"
#: rows of the base insert; the file then holds ~2.33x this many changes
BASE_ROWS = 8_000
ROWS_PER_EVENT = 1_000
WARMUP_OPS = 3
LOG_FILE = "mysql-bin.000001"
DB, TABLE = "test", "repo_files"
COLUMNS = ["repo", "path", "commit", "lang", "content"]
N_REPOS = 40
TS = 1_704_067_200

_STMT = re.compile(r"^(INSERT INTO|UPDATE|DELETE FROM) ")
_PATH = re.compile(r"src/f\d{7}\.py")


def _rows(seed: int) -> list[list[str]]:
    import random

    rnd = random.Random(seed)
    return [
        [
            f"repo-{rnd.randrange(N_REPOS):04d}",
            f"src/f{i:07d}.py",
            f"{rnd.getrandbits(64):016x}",
            rnd.choice(["go", "py", "rs", "md", "java"]),
            f"body {i} {rnd.getrandbits(96):024x} " * 2,
        ]
        for i in range(BASE_ROWS)
    ]


def write_binlog(path: str, seed: int) -> dict:
    """Write the binlog file; returns the flashback range and the
    statements its rollback must contain, derived from the rows written
    here (never from the decoder)."""
    from bingo2sql_spark.sources.binlog_binary import T_VARCHAR, BinlogWriter

    types = [T_VARCHAR] * len(COLUMNS)
    meta = [64, 64, 64, 16, 512]
    w = BinlogWriter(checksum=True)
    uuid = "8a2f1e60-0000-11ee-be56-0242ac120001"
    gno = [0]

    def txn(op: str, rows: list) -> None:
        for lo in range(0, len(rows), ROWS_PER_EVENT):
            gno[0] += 1
            w.gtid(uuid, gno[0], ts=TS + gno[0])
            w.query("BEGIN", db=DB, thread_id=7, ts=TS + gno[0])
            w.table_map(DB, TABLE, types, meta, ts=TS + gno[0])
            w.rows(DB, TABLE, op, types, meta, rows[lo : lo + ROWS_PER_EVENT], ts=TS + gno[0])
            w.xid(gno[0], ts=TS + gno[0])

    state = _rows(seed)
    txn("insert", [list(r) for r in state])
    start_pos = len(w.buf)  # the rollback range starts at the first update
    # partial update 1: new content on every second row
    upd1 = []
    for i in range(0, BASE_ROWS, 2):
        after = list(state[i])
        after[4] = f"edit {i} " + after[4][:40]
        upd1.append((state[i], after))
        state[i] = after
    txn("update", upd1)
    # partial update 2: new commit on every third row
    upd2 = []
    for i in range(0, BASE_ROWS, 3):
        after = list(state[i])
        after[2] = f"{i:016x}"
        upd2.append((state[i], after))
        state[i] = after
    txn("update", upd2)
    # delete half the rows
    txn("delete", [state[i] for i in range(1, BASE_ROWS, 2)])
    with open(path, "wb") as f:
        f.write(w.bytes())
    # rollback of [updates, deletes]: each update inverts to an UPDATE,
    # each delete to an INSERT of the deleted row
    return {
        "start_pos": start_pos,
        "bytes": len(w.buf),
        "expect": {
            "UPDATE": sorted([b[1] for b, _ in upd1] + [b[1] for b, _ in upd2]),
            "INSERT INTO": sorted(state[i][1] for i in range(1, BASE_ROWS, 2)),
            "DELETE FROM": [],
        },
    }


def read_artifact(out_dir: str) -> dict:
    """Statement kind -> sorted paths of the rendered artifact."""
    got = {"UPDATE": [], "INSERT INTO": [], "DELETE FROM": []}
    for name in sorted(os.listdir(out_dir)):
        if name.startswith((".", "_")):
            continue
        with open(os.path.join(out_dir, name)) as f:
            for line in f:
                m = _STMT.match(line)
                if m:
                    got[m.group(1)].append(_PATH.search(line).group(0))
    return {k: sorted(v) for k, v in got.items()}


class Workload(H.Workload):
    name = NAME
    min_ops = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.dir = None
        self.ops_done = 0

    def prepare(self, rep: int) -> None:
        ctx = self.ctx
        if self.dir:
            shutil.rmtree(self.dir, ignore_errors=True)
        self.dir = os.path.join(ctx.work, f"binlog-{rep}")
        os.makedirs(self.dir)
        self.file = os.path.join(self.dir, LOG_FILE)
        info = write_binlog(self.file, ctx.seed)
        self.start_pos = info["start_pos"]
        self.stop_pos = info["bytes"]
        self.bytes = info["bytes"]
        self.expect = info["expect"]
        self.sql_rows = sum(len(v) for v in self.expect.values())

    def warmup(self) -> None:
        # the first op pays Python-worker start and most JIT compiling;
        # per-op CPU still falls over the next two
        for _ in range(WARMUP_OPS):
            self.op(timed=False)

    def _events(self):
        from bingo2sql_spark.sources.binlog_binary import binlog_raw_events
        from bingo2sql_spark.sources.decode import decode_events

        names = {f"{DB}.{TABLE}": COLUMNS}
        return decode_events(binlog_raw_events(self.ctx.spark, self.file, names))

    def _range(self) -> dict:
        return dict(
            start_file=LOG_FILE, start_position=self.start_pos,
            stop_file=LOG_FILE, stop_position=self.stop_pos,
        )

    def op(self, timed: bool = True) -> dict:
        from bingo2sql_spark.api import generate_sql
        from bingo2sql_spark.operators import filters as FL

        ctx = self.ctx
        self.ops_done += 1
        out_dir = os.path.join(ctx.work, f"sql-{self.ops_done}")
        r = self._range()
        with ctx.span("range_scan"):
            t0 = H.stamp()
            FL.apply_filters(
                self._events(),
                start_file=r["start_file"], start_pos=r["start_position"],
                stop_file=r["stop_file"], stop_pos=r["stop_position"],
                flashback=True,
            ).write.format("noop").mode("overwrite").save()
            t1 = H.stamp()
        try:
            with ctx.span("flashback_sql") as sp:
                t2 = H.stamp()
                generate_sql(self._events(), out_dir, flashback=True, **r)
                t3 = H.stamp()
                sp["artifact_bytes"] = sum(
                    os.path.getsize(os.path.join(out_dir, f))
                    for f in os.listdir(out_dir) if not f.startswith((".", "_"))
                )
            got = read_artifact(out_dir)
            if timed and ctx.tracer is not None:
                self.trace_lazy_layers()
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
        errors = [
            f"{kind}: {len(got[kind])} statements, expected {len(want)}"
            + ("" if len(got[kind]) != len(want) else " (keys differ)")
            for kind, want in self.expect.items()
            if got[kind] != want
        ]
        write_s, write_cpu_s = H.elapsed(t2, t3)
        read_s, read_cpu_s = H.elapsed(t0, t1)
        return {
            "write_s": write_s,
            "read_s": read_s,
            "write_cpu_s": write_cpu_s,
            "read_cpu_s": read_cpu_s,
            "events": self.sql_rows,
            "errors": errors,
        }

    def trace_lazy_layers(self) -> None:
        from bingo2sql_spark.operators import filters as FL
        from bingo2sql_spark.sources.binlog_binary import binlog_raw_events

        names = {f"{DB}.{TABLE}": COLUMNS}
        raw = binlog_raw_events(self.ctx.spark, self.file, names)
        decoded = self._events()
        r = self._range()
        filtered = FL.apply_filters(
            decoded,
            start_file=r["start_file"], start_pos=r["start_position"],
            stop_file=r["stop_file"], stop_pos=r["stop_position"],
            flashback=True,
        )
        self.ctx.tracer.prefix_layers(raw, decoded, filtered, binlog_bytes=self.bytes)

    def summarize(self, samples: list[dict]) -> dict:
        import statistics

        rate = self.sql_rows / statistics.median(s["write_s"] for s in samples)
        return {
            "rows_per_s": rate,
            "rows_per_cpu_s": self.sql_rows / statistics.median(s["write_cpu_s"] for s in samples),
            "named": {"sql_rows_per_s": (rate, "1/s")},
        }
