"""Traced runs: spans around the engine's public calls, joined to Spark's
job and stage metrics.

Each span sets the Spark job group to its own id, so every job the
engine runs inside it carries that id. Spans live in memory; at the end
of the run `finish` reads the job, stage, task and SQL records of
Spark's status store (kept with the UI off), joins them to the spans and
turns them into the per-layer metrics.

The lazy layers (decode, filters) run fused into the jobs of the layer
that consumes them, so their marginal cost comes from materialising
plan prefixes into the noop sink: raw scan, + decode, + filters.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import statistics
import threading
import time

MB = 1024.0 * 1024.0

#: every per-layer metric, in the order BENCHMARK.json lists them
PER_LAYER = {
    "binlog_binary.task_s": "s",
    "binlog_binary.tasks": "count",
    "binlog_binary.task_skew": "ratio",
    "binlog_binary.mb_per_task_s": "MB/s",
    "decode.marginal_s": "s",
    "decode.rows_out": "count",
    "filters.rows_scanned": "count",
    "filters.rows_out": "count",
    "filters.pass_ratio": "ratio",
    "filters.bytes_scanned": "bytes",
    "apply.commit_s": "s",
    "apply.commit_jobs": "count",
    "apply.commit_driver_s": "s",
    "apply.prepass_s": "s",
    "apply.merge_write_s": "s",
    "apply.shuffle_write_mb": "MB",
    "apply.shuffle_read_mb": "MB",
    "apply.spill_mb": "MB",
    "apply.task_skew": "ratio",
    "apply.bytes_written_mb": "MB",
    "apply.write_amp": "ratio",
    "apply.buckets_touched": "count",
    "apply.read_s": "s",
    "apply.read_jobs": "count",
    "apply.read_files": "count",
    "apply.read_amp": "ratio",
    "apply.compactions": "count",
    "apply.compact_s": "s",
    "apply.compact_mb_rewritten": "MB",
    "render.s": "s",
    "render.jobs": "count",
    "render.rows": "count",
    "render.mb_out": "MB",
    "render.shuffle_write_mb": "MB",
    "render.spill_mb": "MB",
    "streaming.batches": "count",
    "streaming.overhead_s": "s",
    "streaming.jobs_per_batch": "count",
    "jvm.gc_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "trace.write_p50_s": "s",
}


def _med(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class StatusStore:
    """Job, stage and task records from Spark's in-process status store,
    as plain dicts (serialised in the JVM with Spark's own Jackson)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._stages: dict[int, dict] = {}
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        self._gc_beans = [beans.get(i) for i in range(beans.size())]

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def stage(self, stage_id: int) -> dict | None:
        """The last attempt of a finished stage (cached), or None when it
        was skipped or never ran."""
        if stage_id not in self._stages:
            s = self._store
            try:
                attempts = self._json(
                    s.stageData(
                        stage_id, False, getattr(s, "stageData$default$3")(),
                        False, getattr(s, "stageData$default$5")(),
                    )
                )
            except Exception:
                attempts = []
            done = [a for a in attempts if a.get("status") == "COMPLETE"]
            self._stages[stage_id] = done[-1] if done else None
        return self._stages[stage_id]

    def task_times(self, stage: dict) -> list[float]:
        tasks = self._json(
            self._store.taskList(stage["stageId"], stage["attemptId"], 100_000)
        )
        return [t.get("duration", 0) / 1000.0 for t in tasks if t.get("status") == "SUCCESS"]

    def files_read(self) -> list[tuple[set, int]]:
        """Per SQL execution that scanned files: (its job ids, the sum of
        its scans' 'number of files read')."""
        out = []
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            metrics = e.metrics()
            ids = [
                metrics.apply(k).accumulatorId()
                for k in range(metrics.size())
                if metrics.apply(k).name() == "number of files read"
            ]
            if not ids:
                continue
            values = self._json(self._sql.executionMetrics(e.executionId()))
            n = sum(
                int(str(values[str(a)]).replace(",", "").split()[0])
                for a in ids if values.get(str(a))
            )
            out.append(({int(j) for j in self._json(e.jobs())}, n))
        return out

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0


class Tracer:
    """Spans are dicts: id, name, parent, start, end, op (0 outside the
    timed ops) and attrs, which the span's body may fill (rows_out...)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.status = StatusStore(spark)
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._op = None
        self.table_cls = _traced_table_cls(self)

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1]["id"] if stack else (self._op["span"] if self._op else None)
        sid = f"cdcbench-span-{next(self._ids)}"
        sp = dict(id=sid, name=name, parent=parent, op=self._op["n"] if self._op else 0,
                  start=time.time(), end=None, attrs={})
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(sid, name)
        stack.append(sp)
        try:
            yield sp["attrs"]
        finally:
            sp["end"] = time.time()
            stack.pop()
            if prev_group is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prev_group, "")
            self.spans.append(sp)

    def reset(self) -> None:
        """Forget spans recorded during set-up."""
        self.spans.clear()

    def begin_op(self, n: int) -> None:
        self._op = {"n": n, "span": f"cdcbench-op-{n}", "start": time.time(),
                    "gc0": self.status.gc_s()}

    def end_op(self) -> None:
        op = self._op
        op["end"] = time.time()
        op["gc_s"] = self.status.gc_s() - op["gc0"]
        self.ops.append(op)
        self._op = None

    # -- lazy layers ---------------------------------------------------------

    def prefix_layers(self, raw, decoded, filtered, binlog_bytes: int | None = None) -> None:
        """Materialise raw, raw+decode and raw+decode+filters into the
        noop sink, each in its own span, counting rows with an
        Observation (no extra job)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        for name, df in (("prefix.raw", raw), ("prefix.decoded", decoded),
                         ("prefix.filtered", filtered)):
            obs = Observation(name)
            with self.span(name) as attrs:
                df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                    "noop").mode("overwrite").save()
            attrs["rows"] = obs.get["rows"]
            if binlog_bytes is not None:
                attrs["binlog_bytes"] = binlog_bytes

    # -- joining and aggregation -------------------------------------------------

    def finish(self) -> dict:
        jobs = [j for j in self.status.jobs() if j.get("status") == "SUCCEEDED"]
        by_group: dict[str, list[dict]] = {}
        for j in jobs:
            by_group.setdefault(j.get("jobGroup"), []).append(j)
        children: dict[str, list[dict]] = {}
        for sp in self.spans:
            children.setdefault(sp["parent"], []).append(sp)

        def subtree_jobs(sp: dict) -> list[dict]:
            out = list(by_group.get(sp["id"], []))
            for c in children.get(sp["id"], []):
                out.extend(subtree_jobs(c))
            return out

        def stages_of(js: list[dict]) -> list[dict]:
            seen, out = set(), []
            for j in js:
                for sid in j.get("stageIds", []):
                    if sid not in seen:
                        seen.add(sid)
                        st = self.status.stage(sid)
                        if st is not None:
                            out.append(st)
            return out

        def interval(j: dict) -> tuple[float, float]:
            return j["submissionTime"] / 1000.0, j["completionTime"] / 1000.0

        def timed(sp):
            return sp["op"] > 0

        def spans(name: str) -> list[dict]:
            return [s for s in self.spans if s["name"] == name and timed(s)]

        def sum_stage(sts, key) -> float:
            return float(sum(st.get(key, 0) or 0 for st in sts))

        def skew(sts) -> float:
            """max/median task time of the stage with most task time"""
            if not sts:
                return 0.0
            big = max(sts, key=lambda st: st.get("executorRunTime", 0))
            ts = self.status.task_times(big)
            return max(ts) / statistics.median(ts) if ts and statistics.median(ts) > 0 else 0.0

        m: dict[str, float] = {k: 0.0 for k in PER_LAYER}
        per_span: list[dict] = []

        # -- operators.apply: commits -------------------------------------------
        commits = []
        for sp in spans("apply.commit"):
            js = subtree_jobs(sp)
            sts = stages_of(js)
            span_s = sp["end"] - sp["start"]
            cov = covered_s([interval(j) for j in js], sp["start"], sp["end"])
            # phases by job order: jobs before the first data-writing job
            # are the pre-pass; from it to the last data-writing job the
            # merge and write
            order = sorted(js, key=lambda j: j["jobId"])
            writes = [i for i, j in enumerate(order)
                      if sum_stage(stages_of([j]), "outputBytes") > 0]
            first_w = writes[0] if writes else len(order)
            last_w = writes[-1] if writes else -1
            pre = covered_s([interval(j) for j in order[:first_w]], sp["start"], sp["end"])
            mw = covered_s([interval(j) for j in order[first_w:last_w + 1]],
                           sp["start"], sp["end"])
            met = sp["attrs"].get("metrics", {})
            rows_in = met.get("rows_in_batch") or 0
            rows_out = sum_stage(sts, "outputRecords")
            rec = {
                "span": sp["id"], "commit_s": span_s, "jobs": len(js),
                "covered_s": cov, "driver_s": span_s - cov,
                "prepass_s": pre, "merge_write_s": mw,
                "shuffle_write_mb": sum_stage(sts, "shuffleWriteBytes") / MB,
                "shuffle_read_mb": sum_stage(sts, "shuffleReadBytes") / MB,
                "spill_mb": sum_stage(sts, "diskBytesSpilled") / MB,
                "task_skew": skew(sts),
                "bytes_written_mb": sum_stage(sts, "outputBytes") / MB,
                "write_amp": rows_out / rows_in if rows_in else 0.0,
                "buckets_touched": met.get("buckets_rewritten") or 0,
            }
            # job-covered + driver = span holds with both parts non-negative
            rec["identity_ok"] = 0.0 <= cov <= span_s
            commits.append(rec)
        per_span.extend(commits)
        for key, name in (("commit_s", "apply.commit_s"), ("jobs", "apply.commit_jobs"),
                          ("driver_s", "apply.commit_driver_s"),
                          ("prepass_s", "apply.prepass_s"),
                          ("merge_write_s", "apply.merge_write_s"),
                          ("shuffle_write_mb", "apply.shuffle_write_mb"),
                          ("shuffle_read_mb", "apply.shuffle_read_mb"),
                          ("spill_mb", "apply.spill_mb"), ("task_skew", "apply.task_skew"),
                          ("bytes_written_mb", "apply.bytes_written_mb"),
                          ("write_amp", "apply.write_amp"),
                          ("buckets_touched", "apply.buckets_touched")):
            m[name] = _med(c[key] for c in commits)

        # -- operators.apply: reads (the workloads' read spans) --------------------
        reads = []
        files_by_exec = self.status.files_read()
        for sp in spans("read") + spans("state_read"):
            js = subtree_jobs(sp)
            sts = stages_of(js)
            rows_out = sp["attrs"].get("rows_out") or 0
            scanned = sum_stage(sts, "inputRecords")
            reads.append({
                "read_s": sp["end"] - sp["start"], "jobs": len(js),
                "files": sum(n for ids, n in files_by_exec
                             if ids & {j["jobId"] for j in js}),
                "amp": scanned / rows_out if rows_out else 0.0,
            })
        m["apply.read_s"] = _med(r["read_s"] for r in reads)
        m["apply.read_jobs"] = _med(r["jobs"] for r in reads)
        m["apply.read_files"] = _med(r["files"] for r in reads)
        m["apply.read_amp"] = _med(r["amp"] for r in reads)

        # -- operators.apply: compaction -------------------------------------------
        compacts = spans("apply.compact")
        n_ops = max(1, len(self.ops))
        m["apply.compactions"] = len(compacts) / n_ops
        m["apply.compact_s"] = _med(s["end"] - s["start"] for s in compacts)
        m["apply.compact_mb_rewritten"] = _med(
            sum_stage(stages_of(subtree_jobs(s)), "outputBytes") / MB for s in compacts
        )

        # -- lazy layers: prefix materialisation ---------------------------------
        pre = {n: spans(f"prefix.{n}") for n in ("raw", "decoded", "filtered")}
        if pre["raw"]:
            dur = {n: [s["end"] - s["start"] for s in v] for n, v in pre.items()}
            m["decode.marginal_s"] = _med(dur["decoded"]) - _med(dur["raw"])
            m["decode.rows_out"] = _med(s["attrs"]["rows"] for s in pre["decoded"])
            m["filters.rows_scanned"] = m["decode.rows_out"]
            m["filters.rows_out"] = _med(s["attrs"]["rows"] for s in pre["filtered"])
            if m["filters.rows_scanned"]:
                m["filters.pass_ratio"] = m["filters.rows_out"] / m["filters.rows_scanned"]
            m["filters.bytes_scanned"] = _med(
                sum_stage(stages_of(subtree_jobs(s)), "inputBytes") for s in pre["filtered"]
            )
            if "binlog_bytes" in pre["raw"][0]["attrs"]:
                task_s, skews, ntasks = [], [], []
                for s in pre["raw"]:
                    ts = []
                    for st in stages_of(subtree_jobs(s)):
                        ts.extend(self.status.task_times(st))
                    if ts:
                        task_s.append(max(ts))
                        ntasks.append(len(ts))
                        md = statistics.median(ts)
                        skews.append(max(ts) / md if md > 0 else 0.0)
                m["binlog_binary.task_s"] = _med(task_s)
                m["binlog_binary.tasks"] = _med(ntasks)
                m["binlog_binary.task_skew"] = _med(skews)
                mb = pre["raw"][0]["attrs"]["binlog_bytes"] / MB
                if m["binlog_binary.task_s"]:
                    m["binlog_binary.mb_per_task_s"] = mb / m["binlog_binary.task_s"]

        # -- functions.render ------------------------------------------------------
        renders = spans("flashback_sql")
        if renders:
            recs = []
            for s in renders:
                sts = stages_of(subtree_jobs(s))
                recs.append({
                    "s": s["end"] - s["start"], "jobs": len(subtree_jobs(s)),
                    "rows": sum_stage(sts, "outputRecords"),
                    "mb_out": (s["attrs"].get("artifact_bytes") or 0) / MB,
                    "shuffle_write_mb": sum_stage(sts, "shuffleWriteBytes") / MB,
                    "spill_mb": sum_stage(sts, "diskBytesSpilled") / MB,
                })
            filtered = [s["end"] - s["start"] for s in pre["filtered"]]
            m["render.s"] = _med(r["s"] for r in recs) - _med(filtered)
            for k in ("jobs", "rows", "mb_out", "shuffle_write_mb", "spill_mb"):
                m[f"render.{k}"] = _med(r[k] for r in recs)

        # -- streaming.pipeline ------------------------------------------------------
        batches = spans("batch")
        if batches:
            by_parent = {}
            for c in spans("apply.commit"):
                by_parent.setdefault(c["parent"], []).append(c)
            overhead, jobs_per = [], []
            for b in batches:
                b_jobs = [j for j in jobs
                          if b["start"] <= j["submissionTime"] / 1000.0 <= b["end"]]
                jobs_per.append(len(b_jobs))
                # the batch's commit ran in the stream thread: match by time
                inner = [c for c in spans("apply.commit")
                         if b["start"] <= c["start"] and c["end"] <= b["end"]]
                read_s = sum(r["end"] - r["start"] for r in spans("read")
                             if b["start"] <= r["start"] and r["end"] <= b["end"])
                if inner:
                    overhead.append((b["end"] - b["start"]) - read_s
                                    - sum(c["end"] - c["start"] for c in inner))
            m["streaming.batches"] = len(batches)
            m["streaming.overhead_s"] = _med(overhead)
            m["streaming.jobs_per_batch"] = _med(jobs_per)

        # -- JVM and Spark totals per op ---------------------------------------------
        if self.ops:
            m["jvm.gc_s"] = _med(op["gc_s"] for op in self.ops)
            per_op_jobs, per_op_tasks = [], []
            # the traced-only prefix materialisations are not the op's work
            extra = {j["jobId"] for s in self.spans if s["name"].startswith("prefix.")
                     for j in by_group.get(s["id"], [])}
            for op in self.ops:
                oj = [j for j in jobs if j["jobId"] not in extra
                      and op["start"] <= j["submissionTime"] / 1000.0 <= op["end"]]
                per_op_jobs.append(len(oj))
                per_op_tasks.append(sum(j.get("numTasks", 0) - j.get("numSkippedTasks", 0)
                                        for j in oj))
            m["spark.jobs"] = _med(per_op_jobs)
            m["spark.tasks"] = _med(per_op_tasks)

        return {
            "per_layer": {k: (m[k], PER_LAYER[k]) for k in PER_LAYER},
            "commit_spans": per_span,
            "commit_identity_ok": all(c["identity_ok"] for c in commits),
            "spans": self.spans,
        }


def _traced_table_cls(tracer: Tracer):
    """IcebergLiteTable with commit/read/compact wrapped in spans."""
    from bingo2sql_spark.operators.apply import IcebergLiteTable

    class TracedTable(IcebergLiteTable):
        def commit(self, batch, batch_id, *args, **kwargs):
            with tracer.span("apply.commit") as attrs:
                m = super().commit(batch, batch_id, *args, **kwargs)
                attrs["metrics"] = {
                    k: v for k, v in m.items() if isinstance(v, (int, float, str, bool))
                }
            return m

        def read(self, spark, *args, **kwargs):
            with tracer.span("apply.read"):
                return super().read(spark, *args, **kwargs)

        def compact(self, spark, *args, **kwargs):
            with tracer.span("apply.compact"):
                return super().compact(spark, *args, **kwargs)

    return TracedTable
