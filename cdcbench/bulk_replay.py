"""bulk_replay: land a typed-wire backlog, then load and catch up.

One op = a fresh copy-on-write table, (a) the initial load of the
landing zone up to the half-way position, (b) the catch-up replay of the
whole landing zone from just past the loaded head. The engine's merge
exchange and parquet write do most of the work; decode is a typed
projection. Step (b) is the only place the stored-bucket CoW merge, the
prune pre-pass and position pushdown run.
"""

from __future__ import annotations

import os
import shutil

from cdcbench import harness as H
from cdcbench import oracle as O

NAME = "bulk_replay"
#: backlog shape: N_KEYS x VERSIONS events, ~1 KB `content` per image
N_KEYS = 6_000
VERSIONS = 8
N_REPOS = 100
CONTENT_REPEAT = 30
TABLES = ["repo_files"]
KEYS = ["repo", "path"]


class Workload(H.Workload):
    name = NAME
    min_ops = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.landing = None
        self.ops_done = 0

    # -- set-up --------------------------------------------------------------

    def prepare(self, rep: int) -> None:
        """Generate and land the backlog, then compute the oracle. Runs
        once per set-up repetition; the last landing is the one used."""
        from bingo2sql_spark.sources.layout import land_events
        from bingo2sql_spark.sources.synth import generate_events, to_raw_typed

        ctx = self.ctx
        if self.landing:
            shutil.rmtree(self.landing, ignore_errors=True)
        self.landing = os.path.join(ctx.work, f"landing-{rep}")
        events = generate_events(
            ctx.spark,
            n_keys=N_KEYS,
            versions_per_key=VERSIONS,
            n_repos=N_REPOS,
            seed=ctx.seed,
            content_repeat=CONTENT_REPEAT,
        )
        land_events(to_raw_typed(events), self.landing, by_day=False)

        con = O.connect(ctx.tmp)
        src = O.parquet_source(os.path.join(self.landing, "*", "*.parquet"))
        total = O.count_range(con, src)
        # the loaded head: the position of the half-way event
        self.head = con.execute(
            f"SELECT log_file, log_pos FROM {src} "
            f"ORDER BY seq LIMIT 1 OFFSET {total // 2 - 1}"
        ).fetchone()
        self.head = (self.head[0], int(self.head[1]))
        self.catchup_from = (self.head[0], self.head[1] + 1)
        self.load_events = O.count_range(con, src, stop=self.head)
        self.catchup_events = total - self.load_events
        self.expect_final = O.lww_state(con, src, tables=TABLES)
        con.close()

    def warmup(self) -> None:
        # one untimed op: JIT, codegen and the Python workers settle
        self.op(timed=False)

    # -- the op ----------------------------------------------------------------

    def _events(self):
        from bingo2sql_spark.sources.decode import decode_events_typed
        from bingo2sql_spark.sources.layout import read_events

        raw = read_events(self.ctx.spark, self.landing)
        return decode_events_typed(raw, before_fields=KEYS)

    def op(self, timed: bool = True) -> dict:
        from bingo2sql_spark.pipeline import replay

        ctx = self.ctx
        self.ops_done += 1
        path = os.path.join(ctx.work, f"table-{self.ops_done}")
        table = ctx.table_cls(path)
        try:
            with ctx.span("load"):
                t0 = H.stamp()
                replay(
                    self._events(), table, batch_id="load", tables=TABLES,
                    stop_file=self.head[0], stop_pos=self.head[1],
                )
                t1 = H.stamp()
            with ctx.span("catchup"):
                t2 = H.stamp()
                replay(
                    self._events(), table, batch_id="catchup", tables=TABLES,
                    start_file=self.catchup_from[0],
                    start_pos=self.catchup_from[1],
                )
                t3 = H.stamp()
            with ctx.span("state_read") as sp:
                t4 = H.stamp()
                final_state = table.state_checksum(ctx.spark)
                t5 = H.stamp()
                sp["rows_out"] = len(final_state)
            if timed and ctx.tracer is not None:
                self.trace_lazy_layers()
        finally:
            shutil.rmtree(path, ignore_errors=True)
        errors = []
        if final_state != self.expect_final:
            errors.append("state after catch-up differs from the oracle")
        (load_s, load_cpu_s), (catchup_s, catchup_cpu_s) = H.elapsed(t0, t1), H.elapsed(t2, t3)
        read_s, read_cpu_s = H.elapsed(t4, t5)
        sample = {
            "load_s": load_s,
            "catchup_s": catchup_s,
            "write_s": load_s + catchup_s,
            "read_s": read_s,
            "write_cpu_s": load_cpu_s + catchup_cpu_s,
            "read_cpu_s": read_cpu_s,
            "events": self.load_events + self.catchup_events,
            "errors": errors,
        }
        return sample

    def trace_lazy_layers(self) -> None:
        """Marginal cost of the lazy layers of the catch-up plan, by
        prefix materialisation into the noop sink."""
        from bingo2sql_spark.operators import filters as FL
        from bingo2sql_spark.sources.layout import read_events

        ctx = self.ctx
        raw = read_events(ctx.spark, self.landing)
        decoded = self._events()
        filtered = FL.apply_filters(
            decoded, tables=TABLES,
            start_file=self.catchup_from[0], start_pos=self.catchup_from[1],
        )
        ctx.tracer.prefix_layers(raw, decoded, filtered)

    # -- metrics -------------------------------------------------------------

    def summarize(self, samples: list[dict]) -> dict:
        load = sum(s["load_s"] for s in samples)
        catchup = sum(s["catchup_s"] for s in samples)
        n = len(samples)
        return {
            "rows_per_s": n * (self.load_events + self.catchup_events) / (load + catchup),
            "rows_per_cpu_s": n * (self.load_events + self.catchup_events)
            / sum(s["write_cpu_s"] for s in samples),
            "named": {
                "load_events_per_s": (n * self.load_events / load, "1/s"),
                "catchup_events_per_s": (n * self.catchup_events / catchup, "1/s"),
            },
        }
