"""bingo-spark benchmark: one workload, one seed, one JSON result line.

    python3 cdcbench/run.py --workload bulk_replay --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is
{"correct", "attempted", "failed", "metrics"}; the line before it is the
full report (named metrics, every sample, the run shape). With
`--trace 1` the engine calls are wrapped in spans and the metrics are
the per-layer ones. See cdcbench/README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdcbench import harness as H  # noqa: E402

WORKLOADS = ("bulk_replay", "tail_mor", "binlog_flashback")
#: input preparation is repeated this many times; set-up reports the median
SETUP_REPS = 3
#: hard stop for one run, below the 180 s a run may take
WATCHDOG_S = 170.0


class Context:
    """What a workload sees: the session, its scratch dir, the seed, the
    table class to use and the (optional) tracer."""

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.tmp = os.path.join(work, "tmp")
        self.seed = seed
        self.tracer = tracer
        self.now = time.time
        if tracer is not None:
            self.table_cls = tracer.table_cls
        else:
            from bingo2sql_spark.operators.apply import IcebergLiteTable

            self.table_cls = IcebergLiteTable

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext({})
        return self.tracer.span(name)


def _load_workload(name: str, ctx: Context):
    import importlib

    return importlib.import_module(f"cdcbench.{name}").Workload(ctx)


def start_session(work: str, conf: dict):
    from bingo2sql_spark.session import get_spark

    return get_spark("cdcbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    try:
        spark.stop()
    except Exception:
        pass
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait()
    _reap_descendants()


def _reap_descendants() -> None:
    import signal

    for pid in H.descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    for _ in H.descendants(os.getpid()):
        try:
            os.waitpid(-1, 0)
        except OSError:
            break


def _watchdog(work: str) -> None:
    time.sleep(WATCHDOG_S)
    sys.stderr.write(f"cdcbench: run exceeded {WATCHDOG_S:.0f} s, aborting\n")
    _reap_descendants()
    H.remove_work_dir(work)
    os._exit(3)


def run(args) -> dict:
    """Set up, measure for args.seconds, verify; returns the report."""
    work = H.make_work_dir()
    threading.Thread(target=_watchdog, args=(work,), daemon=True).start()
    shape = H.pin_environment(work)
    shape["spark_conf"] = H.spark_placement_conf(work)
    spark = None
    try:
        # import the engine only now: it reads the pinned environment
        import bingo2sql_spark  # noqa: F401

        spark = start_session(work, shape["spark_conf"])
        H.log("session started")
        session_s = time.time() - PROCESS_START
        tracer = None
        if args.trace:
            from cdcbench.trace import Tracer

            tracer = Tracer(spark)
        ctx = Context(spark, work, args.seed, tracer)
        wl = _load_workload(args.workload, ctx)

        prep = []
        for rep in range(SETUP_REPS):
            t0 = time.time()
            wl.prepare(rep)
            prep.append(time.time() - t0)
            H.log(f"prepare {rep}: {prep[-1]:.2f} s")
        if tracer is not None:
            tracer.reset()
        wl.warmup()
        H.log("warm-up done")
        # process start -> first timed op, with the repeated preparation
        # counted once at its median
        setup_s = time.time() - PROCESS_START - sum(prep) + statistics.median(prep)

        samples, errors = [], []
        attempted = failed = ops = 0
        rss = H.rss_by_process()
        deadline = time.time() + args.seconds
        while wl.wants_more(ops, time.time() >= deadline):
            ops += 1
            attempted += 1
            rss = _max_rss(rss, H.rss_by_process())
            try:
                if tracer is not None:
                    tracer.begin_op(ops)
                samples.append(wl.op())
                if tracer is not None:
                    tracer.end_op()
            except Exception:
                failed += 1
                errors.append(traceback.format_exc(limit=5))
        H.log(f"{ops} timed ops done")
        final_errors = wl.finish(samples)
        H.log("verified")
        for s in samples:
            if s["errors"]:
                failed += 1
                errors.extend(s["errors"])
        if final_errors:
            errors.extend(final_errors)
            failed = min(attempted, failed + 1)
        rss = _max_rss(rss, H.rss_by_process())
        report = summarize(args, wl, samples, setup_s, session_s, prep, rss, shape)
        report["errors"] = errors[:20]
        report["attempted"], report["failed"] = attempted, failed
        report["error_rate"] = failed / attempted
        if tracer is not None:
            report["trace"] = tracer.finish()
            if "write" in report:
                report["trace"]["per_layer"]["trace.write_p50_s"] = (report["write"]["p50"], "s")
        return report
    finally:
        if spark is not None:
            stop_session(spark)
        H.remove_work_dir(work)


def _max_rss(a: dict, b: dict) -> dict:
    """The reading with the larger sum (VmHWM only grows per process, but
    processes come and go)."""
    return b if sum(b.values()) >= sum(a.values()) else a


def summarize(args, wl, samples, setup_s, session_s, prep, rss, shape) -> dict:
    rss_mb = sum(rss.values())
    rep = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "run_shape": {**shape, "master": f"local[{shape['SPARK_GRAFT_CPUS']}]"},
        "setup": {"setup_s": setup_s, "session_s": session_s, "prepare_s": prep},
        "peak_rss_mb": rss_mb,
        "rss_by_process_mb": rss,
    }
    if not samples:
        return rep
    w = H.timing_summary([s["write_s"] for s in samples])
    r = H.timing_summary([s["read_s"] for s in samples])
    extra = wl.summarize(samples)
    rep["write"], rep["read"] = w, r
    # wall-clock latencies: what one client waits, on an idle host
    rep["latency"] = {
        "write_p50_s": w["p50"],
        "write_tail_s": w["tail"],
        "read_p50_s": r["p50"],
        "read_tail_s": r["tail"],
        "rows_per_s": extra["rows_per_s"],
    }
    rep["named"] = {k: {"value": v, "unit": u} for k, (v, u) in extra["named"].items()}
    rep["e2e"] = {
        "setup_s": (setup_s, "s"),
        **{k: (v, "s") for k, v in wl.timings(samples).items()},
        "rows_per_cpu_s": (extra["rows_per_cpu_s"], "1/s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    rep["samples"] = [{k: v for k, v in s.items() if k != "errors"} for s in samples]
    return rep


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    report = run(args)
    if "e2e" not in report:
        print(json.dumps(report, default=str))
        return 1
    if args.trace:
        metrics = report["trace"]["per_layer"]
    else:
        metrics = report["e2e"]
    correct = report["failed"] == 0
    print(json.dumps(report, default=str))
    print(H.result_line(correct, report["attempted"], report["failed"], metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
