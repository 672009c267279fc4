"""tail_mor: small micro-batches streamed into a merge-on-read table,
each commit followed by reads.

A MOR table (inline compaction past MAX_DELTA_DEPTH) is preloaded and a
`start_ingest(maxFilesPerTrigger=1)` query is started on its landing
zone before timing. The loop is closed, one client: an op publishes the
next staged micro-batch file and waits until the `on_commit` hook has
stamped the durable commit and run one filtered read and one
`read_keys` lookup. A run ends on a compaction-cycle boundary, so every
run compacts on the same share of its commits. Per-commit driver
overhead, the streaming trigger path, MOR read amplification and inline
compaction dominate.
"""

from __future__ import annotations

import os
import shutil
import threading

from cdcbench import harness as H
from cdcbench import oracle as O

NAME = "tail_mor"
#: key space and preload depth (versions per key landed before the tail)
N_KEYS = 10_000
N_REPOS = 50
PRELOAD_VERSIONS = 1
#: events per micro-batch file (~100 B payloads, content_repeat=1)
BATCH_EVENTS = 1_000
MAX_DELTA_DEPTH = 2
#: compaction runs on every (MAX_DELTA_DEPTH + 1)-th commit
CYCLE = MAX_DELTA_DEPTH + 1
WARMUP_BATCHES = CYCLE
#: staged micro-batch files; a run stops early if it uses them all
MAX_BATCHES = WARMUP_BATCHES + 8 * CYCLE
BATCH_TIMEOUT_S = 60.0
#: the table is small, so few buckets (the default 64 writes 64 delta
#: files per commit for a 1,000-event batch)
N_BUCKETS = 8
TABLES = ["repo_files"]
#: the filtered read: one repo (the zipf head, so it is never empty)
READ_REPO = "repo-0000"
LOOKUP_KEYS = 4


class Workload(H.Workload):
    name = NAME
    min_ops = 2 * CYCLE

    def __init__(self, ctx):
        self.ctx = ctx
        self.base = None

    # -- set-up --------------------------------------------------------------

    def prepare(self, rep: int) -> None:
        """Generate and stage the preload and every micro-batch file;
        open the oracle over them."""
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from bingo2sql_spark.sources.synth import generate_events, to_raw_typed

        ctx = self.ctx
        if self.base:
            shutil.rmtree(self.base, ignore_errors=True)
        self.base = os.path.join(ctx.work, f"tail-{rep}")
        staged = os.path.join(self.base, "staged")
        self.landing = os.path.join(self.base, "landing")
        os.makedirs(self.landing)
        n_batches = MAX_BATCHES
        preload_n = N_KEYS * PRELOAD_VERSIONS
        total = preload_n + n_batches * BATCH_EVENTS
        versions = -(-total // N_KEYS)
        events = to_raw_typed(
            generate_events(
                ctx.spark, n_keys=N_KEYS, versions_per_key=versions,
                n_repos=N_REPOS, seed=ctx.seed,
            )
        ).filter(F.col("seq") < total)
        # one collect, then one flat file per micro-batch, ordered by name
        # and modification time (the input is small; a partitioned Spark
        # write costs more in job overhead than the data)
        rows = events.orderBy("seq").toArrow()
        self.preload_dir = os.path.join(staged, "preload")
        os.makedirs(self.preload_dir)
        pq.write_table(rows.slice(0, preload_n), os.path.join(self.preload_dir, "part-0.parquet"))
        self.batch_files = []
        for b in range(n_batches):
            dst = os.path.join(staged, f"batch-{b:05d}.parquet")
            pq.write_table(rows.slice(preload_n + b * BATCH_EVENTS, BATCH_EVENTS), dst)
            os.utime(dst, (1_700_000_000 + b, 1_700_000_000 + b))
            self.batch_files.append(dst)

        self.checkpoint = os.path.join(self.base, "checkpoint")

        if getattr(self, "con", None) is not None:
            self.con.close()
        self.con = O.connect(ctx.tmp)
        self.src = O.parquet_source(os.path.join(staged, "**", "*.parquet"))
        self.preload_n = preload_n
        self.next_batch = 0
        self.expected = {}  # batch index -> expected state, filled lazily
        self.keys, self.published = {}, {}

    def _expected(self, b: int) -> list[tuple]:
        if b not in self.expected:
            last = self.preload_n + (b + 1) * BATCH_EVENTS - 1
            pos = self.con.execute(
                f"SELECT log_file, log_pos FROM {self.src} WHERE seq = {last}"
            ).fetchone()
            self.expected[b] = O.lww_state(
                self.con, self.src, tables=TABLES, stop=(pos[0], int(pos[1]))
            )
        return self.expected[b]

    def _lookup_keys(self, b: int) -> list[tuple]:
        lo = self.preload_n + b * BATCH_EVENTS
        return [
            tuple(r)
            for r in self.con.execute(
                f"""SELECT DISTINCT coalesce(after.repo, before.repo),
                           coalesce(after.path, before.path)
                    FROM {self.src}
                    WHERE seq >= {lo} AND seq < {lo + BATCH_EVENTS}
                      AND "table" = 'repo_files'
                    ORDER BY 1, 2 LIMIT {LOOKUP_KEYS}"""
            ).fetchall()
        ]

    def warmup(self) -> None:
        """Preload the table, start the stream and run one compaction
        cycle of micro-batches untimed."""
        from bingo2sql_spark.pipeline import replay
        from bingo2sql_spark.sources.decode import decode_events_typed
        from bingo2sql_spark.streaming.pipeline import start_ingest

        ctx = self.ctx
        self.table = ctx.table_cls(
            os.path.join(self.base, "table"),
            n_buckets=N_BUCKETS,
            write_mode="mor",
            max_delta_depth=MAX_DELTA_DEPTH,
        )
        raw = ctx.spark.read.parquet(self.preload_dir)
        replay(decode_events_typed(raw), self.table, batch_id="preload", tables=TABLES)
        H.log("preload committed")
        self.stamps = {}
        self.done = threading.Event()
        self.query = start_ingest(
            ctx.spark, self.landing, self.table, self.checkpoint,
            max_files_per_trigger=1, available_now=False,
            on_commit=self._on_commit, tables=TABLES,
        )
        for _ in range(WARMUP_BATCHES):
            s = self._sample(self._publish_and_wait())
            H.log(f"warm-up batch {s['batch']}: commit {s['write_s']:.2f} s, read {s['read_s']:.2f} s")

    # -- the op: one micro-batch, closed loop ----------------------------------

    def wants_more(self, ops: int, expired: bool) -> bool:
        if self.next_batch >= len(self.batch_files):
            return False
        return not (expired and ops >= self.min_ops and ops % CYCLE == 0)

    def _on_commit(self, table, metrics) -> None:
        """Runs inside foreachBatch once the commit is durable."""
        from pyspark.sql import functions as F

        ctx = self.ctx
        committed = H.stamp()
        b = self.inflight
        h = F.sha2(F.coalesce("content", F.lit("")), 256)
        with ctx.span("read") as sp:
            rows = (
                table.read(ctx.spark).filter(F.col("repo") == READ_REPO)
                .select("repo", "path", h).collect()
            )
            hits = table.read_keys(ctx.spark, self.keys[b]).select("repo", "path", h).collect()
            sp["rows_out"] = len(rows) + len(hits)
        self.stamps[b] = (committed, H.stamp(), rows, hits, metrics)
        self.done.set()

    def _publish_and_wait(self) -> int:
        b = self.next_batch
        self.next_batch += 1
        self.keys[b] = self._lookup_keys(b)
        self.inflight = b
        self.done.clear()
        src = self.batch_files[b]
        published = H.stamp()
        os.link(src, os.path.join(self.landing, os.path.basename(src)))
        while not self.done.wait(1.0):
            if self.query.exception() is not None or not self.query.isActive:
                raise RuntimeError(f"ingest stopped: {self.query.exception()}")
            if self.ctx.now() - published[0] > BATCH_TIMEOUT_S:
                raise RuntimeError(f"batch {b} not committed in {BATCH_TIMEOUT_S} s")
        self.published[b] = published
        return b

    def op(self) -> dict:
        with self.ctx.span("batch"):
            b = self._publish_and_wait()
        return self._sample(b)

    def _sample(self, b: int) -> dict:
        committed, done, _, _, metrics = self.stamps[b]
        write_s, write_cpu_s = H.elapsed(self.published[b], committed)
        read_s, read_cpu_s = H.elapsed(committed, done)
        return {
            "write_s": write_s,
            "read_s": read_s,
            "write_cpu_s": write_cpu_s,
            "read_cpu_s": read_cpu_s,
            "events": BATCH_EVENTS,
            "compacted": metrics.get("compacted_to") is not None,
            "depth": metrics.get("delta_depth"),
            "batch": b,
            "errors": [],
        }

    def finish(self, samples: list[dict]) -> list[str]:
        """Stop the stream, then check every read result and the final
        table state against the oracle."""
        self.query.stop()
        errors = []
        for s in samples:
            b = s["batch"]
            _, _, rows, hits, _ = self.stamps[b]
            want = self._expected(b)
            if sorted(tuple(r) for r in rows) != [r for r in want if r[0] == READ_REPO]:
                s["errors"].append(f"batch {b}: filtered read differs from the oracle")
            want_keys = set(self.keys[b])
            if sorted(tuple(r) for r in hits) != [r for r in want if (r[0], r[1]) in want_keys]:
                s["errors"].append(f"batch {b}: read_keys differs from the oracle")
        last = self.next_batch - 1
        if self.table.state_checksum(self.ctx.spark) != self._expected(last):
            errors.append("final table state differs from the oracle")
        self.con.close()
        return errors

    # -- metrics -------------------------------------------------------------

    def timings(self, samples: list[dict]) -> dict:
        """Commits and reads follow the compaction sawtooth, so the p50
        and the tail are the medians of its classes: a delta commit and a
        compacting commit; any read and a read at the deepest delta
        depth. Every run has as many of each (whole cycles)."""
        import statistics

        def med(key: str, keep) -> float:
            xs = [s[key] for s in samples if keep(s)]
            return statistics.median(xs or [s[key] for s in samples])

        return {
            "write_cpu_s": med("write_cpu_s", lambda s: not s["compacted"]),
            "write_tail_cpu_s": med("write_cpu_s", lambda s: s["compacted"]),
            "read_cpu_s": med("read_cpu_s", lambda s: True),
            "read_tail_cpu_s": med("read_cpu_s", lambda s: s["depth"] == MAX_DELTA_DEPTH),
        }

    def summarize(self, samples: list[dict]) -> dict:
        events = len(samples) * BATCH_EVENTS
        return {
            "rows_per_s": events / sum(s["write_s"] for s in samples),
            "rows_per_cpu_s": events / sum(s["write_cpu_s"] for s in samples),
            "named": {},
        }
