"""Benchmark driver: headline CDC replay throughput + per-query timings.

Prints ONE JSON line:
  {"metric": "...", "value": <headline secs>, "unit": "sec",
   "queries": {...per-query secs...}, "sf": <sf>,
   "events": N, "events_per_sec": X, ...}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     BENCH_EVENTS (override headline event count),
     BENCH_QUERIES (comma list; default all).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bingo2sql_spark.session import get_spark  # noqa: E402


#: window-control state (VERDICT r6 #1): BENCH_r06.json shipped from a
#: measurement window the sf1.0 data proved was polluted (two queries
#: read FASTER at 10x the rows). The control below makes bench.py
#: self-defending: a fixed CPU+shuffle job (~0.5 s on a quiet box) runs
#: interleaved with every timed sample; identical work every call means
#: any reading far above the run's best says the BOX was slow, not the
#: engine — the sample is rejected and rerun.
_CONTROL: dict = {"best": None, "readings": [], "rejected": 0}
_CONTROL_TOL = 1.5


def control_secs(spark) -> float:
    """The fixed control job: pure CPU + one small shuffle, no disk, no
    data dependence — the same work every invocation."""
    t0 = time.time()
    (
        spark.range(0, 20_000_000, 1, 8)
        .selectExpr("id % 512 AS k", "id")
        .groupBy("k")
        .agg({"id": "sum"})
        .agg({"sum(id)": "sum"})
        .collect()
    )
    return time.time() - t0


def _window_ok(spark) -> bool:
    """Run the control; True when the current window reads within
    _CONTROL_TOL of the run's best control. Records every reading."""
    c = control_secs(spark)
    _CONTROL["readings"].append(round(c, 3))
    if _CONTROL["best"] is None or c < _CONTROL["best"]:
        _CONTROL["best"] = c
    ok = c <= _CONTROL_TOL * _CONTROL["best"]
    if not ok:
        _CONTROL["rejected"] += 1
    return ok


def _wait_clean(spark, max_wait: float = 90.0) -> None:
    """Pre-sample gate: probe the control until the CURRENT window reads
    clean (or max_wait elapses). A headline sample costs 5-70 s; a 0.2 s
    probe that refuses to launch it into a window that is dirty RIGHT NOW
    is far cheaper than paying for a doomed sample and rejecting it
    after the fact (the r7 failure mode: 15 post-sample rejects, typed
    headline never landed in a clean window). Readings here do NOT
    count as window_rejects — nothing was sampled."""
    t0 = time.time()
    while time.time() - t0 < max_wait:
        c = control_secs(spark)
        if _CONTROL["best"] is None or c < _CONTROL["best"]:
            _CONTROL["best"] = c
        if c <= _CONTROL_TOL * _CONTROL["best"]:
            return
        time.sleep(3.0)


def _guarded_samples(spark, run, n_clean: int, max_tries: int) -> dict:
    """Samples bracketed by clean control readings: the pre-sample gate
    waits for a currently-quiet window, and the POST-sample control
    confirms the window stayed clean across the sample. Returns
    {"clean": [...], "all": [...]} — the SHIPPING RULE (VERDICT r7 #3)
    lives in the caller: a headline may only be emitted from `clean`;
    when the box never quiets down (`clean` empty after max_tries) the
    caller carries forward the last clean artifact with a stale marker
    instead of shipping a self-flagged polluted number."""
    vals: list[float] = []
    everything: list[float] = []
    tries = 0
    while len(vals) < n_clean and tries < max_tries:
        _wait_clean(spark)
        v = run()
        everything.append(v)
        tries += 1
        if _window_ok(spark):
            vals.append(v)
    return {"clean": vals, "all": everything}


def _prev_artifact() -> dict | None:
    """The committed previous full artifact (BENCH/bench_latest.json) —
    the carry-forward source when a headline side cannot land in a
    clean window this run."""
    here = os.path.dirname(os.path.abspath(__file__))
    p = os.path.join(here, "BENCH", "bench_latest.json")
    try:
        with open(p) as f:
            return json.load(f)
    except Exception:
        return None


def _ship_headline(side: str, res: dict, prev: dict | None, prev_key: str) -> dict:
    """VERDICT r7 #3 — the emit rule: a headline lands ONLY from a
    clean window. On exhaustion, carry forward the previous artifact's
    value for this side IF that artifact marked the side clean
    (`headline_clean`), else emit the best dirty sample; either way the
    side is flagged `stale` and the dirty readings ride along so the
    artifact never silently ships a polluted number as truth."""
    if res["clean"]:
        return {
            "secs": min(res["clean"]),
            "clean_samples": len(res["clean"]),
            "stale": False,
            "dirty": [],
        }
    carried = None
    if prev and (prev.get("headline_clean") or {}).get(side):
        carried = prev.get(prev_key)
    return {
        "secs": carried if carried is not None else min(res["all"]),
        "clean_samples": 0,
        "stale": True,
        "carried_from_prev": carried is not None,
        "dirty": [round(v, 3) for v in res["all"]],
    }


def headline_replay(spark, n_events: int) -> dict:
    """Raw wire events -> decode -> filters -> LWW -> Iceberg-lite MERGE,
    timed end to end (raw events landed to parquet first so generation
    isn't counted; decode IS counted — same job as BENCH/run_scaling).

    The HEADLINE lands the TYPED wire (schema.RAW_EVENT_TYPED): the
    binlog is binary, so a connector that keeps values typed end-to-end
    never pays a text-parse tax — decode is a pure projection and the
    narrowed before image prunes down to the parquet scan. The JSON
    landing (the Kafka-connect-style text fallback) is timed alongside
    as replay_json_secs for round-over-round continuity.

    Timing discipline (VERDICT r3 #9 — match BENCH/run_scaling.py):
    each headline sample runs in a FRESH taskset-pinned JVM (long-lived
    JVMs degrade across repeated jobs; pinning stops the GC/compression
    threads of an idle parent flattering the run), minimum of 4 samples
    for the typed headline / 2 for the JSON fallback (the hypervisor
    has noisy neighbors — the minimum reflects engine cost, not
    interference). The incremental/MOR second-batch numbers stay
    in-session (they measure a warm table, not the cold headline)."""
    from bingo2sql_spark.operators.apply import IcebergLiteTable
    from bingo2sql_spark.pipeline import replay
    from bingo2sql_spark.sources.decode import decode_events_typed
    from bingo2sql_spark.sources.synth import generate_events, to_raw, to_raw_typed

    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.join(here, "BENCH"))
    import run_scaling as RS

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    tmp = tempfile.mkdtemp(prefix="bench_cdc_", dir=_fast_tmp())
    try:
        src_typed = os.path.join(tmp, "events_typed")
        src_json = os.path.join(tmp, "events_json")
        n_keys = max(1000, n_events // 8)
        env = generate_events(
            spark, n_keys=n_keys, versions_per_key=8, n_repos=max(50, n_keys // 200)
        )
        to_raw_typed(env).write.mode("overwrite").parquet(src_typed)
        to_raw(env).write.mode("overwrite").parquet(src_json)

        # fresh pinned JVM per sample (the parent session sits idle)
        # window-guarded (VERDICT r6 #1): each fresh-JVM sample only
        # counts when the control job run right after it reads clean;
        # the control runs BETWEEN samples (the parent session is idle
        # while the pinned child runs, so control never contaminates a
        # sample). JSON alongside typed in the same guarded run = the
        # interleaved A/B of VERDICT r6 #8.
        control_secs(spark)  # codegen warmup: the first control run is
        # ~8x the steady state and must not poison the readings
        _window_ok(spark)  # seed the run's best-control reading
        typed_fn = lambda: RS.run_one(cpus, src_typed, n_events, "typed")  # noqa: E731
        json_fn = lambda: RS.run_one(cpus, src_json, n_events, "json")  # noqa: E731
        typed_r = _guarded_samples(spark, typed_fn, 4, 7)
        json_r = _guarded_samples(spark, json_fn, 2, 4)

        def _best(r: dict) -> float:
            return min(r["clean"]) if r["clean"] else min(r["all"])

        # ratio sanity: the JSON landing pays a text-parse tax of ~2x
        # over typed — a physical invariant of the engine (measured every
        # round since r1). A ratio far outside [1.1, 4] means samples
        # landed in pollution the control missed (r7: 115 s vs typed
        # 5.7 s = 20x). SYMMETRIC adjudication (ADVICE r7): resample
        # BOTH sides under the guard — re-rolling only the side that
        # looks bad can only shrink the ratio, a selection bias — and if
        # the ratio still refuses to land, flag it unadjudicated rather
        # than pretend.
        ratio_unadjudicated = False
        if not (1.1 <= _best(json_r) / _best(typed_r) <= 4.0):
            for side_r, fn in ((typed_r, typed_fn), (json_r, json_fn)):
                extra = _guarded_samples(spark, fn, 1, 2)
                side_r["clean"] += extra["clean"]
                side_r["all"] += extra["all"]
            ratio_unadjudicated = not (
                1.1 <= _best(json_r) / _best(typed_r) <= 4.0
            )
        prev = _prev_artifact()
        typed_ship = _ship_headline("typed", typed_r, prev, "replay_secs")
        json_ship = _ship_headline("json", json_r, prev, "replay_json_secs")
        secs, json_secs = typed_ship["secs"], json_ship["secs"]

        # forward replay only needs merge keys from the before image:
        # typed -> nested-schema pruning skips the before payload bytes
        KEYS = ["repo", "path"]
        events = decode_events_typed(spark.read.parquet(src_typed), before_fields=KEYS)
        # warm + load a table in-session for the incremental/MOR numbers
        warm = IcebergLiteTable(os.path.join(tmp, "warm"), n_buckets=8)
        replay(events.filter("seq % 50 = 0"), warm, batch_id="warm", tables=["repo_files"])
        table = IcebergLiteTable(os.path.join(tmp, "target-a"), n_buckets=64)
        replay(events, table, batch_id="bench", tables=["repo_files"])
        rows = table.read(spark).count()

        ev2 = generate_events(
            spark, n_keys=n_keys, versions_per_key=8, n_repos=max(50, n_keys // 200), seed=43
        )
        t1 = time.time()
        replay(ev2, table, batch_id="bench2", tables=["repo_files"])
        inc_secs = time.time() - t1
        # merge-on-read: incremental commits append per-bucket deltas
        # (O(batch), stored data never read) — the micro-batch cadence
        # mode; timed against the same second batch
        mor = IcebergLiteTable(os.path.join(tmp, "target-mor"), n_buckets=64,
                               write_mode="mor")
        replay(events, mor, batch_id="bench", tables=["repo_files"])
        t2 = time.time()
        replay(ev2, mor, batch_id="bench2", tables=["repo_files"])
        mor_secs = time.time() - t2
        stale = {}
        if typed_ship["stale"]:
            stale["typed"] = {
                "carried_from_prev": typed_ship.get("carried_from_prev", False),
                "dirty_secs": typed_ship["dirty"],
            }
        if json_ship["stale"]:
            stale["json"] = {
                "carried_from_prev": json_ship.get("carried_from_prev", False),
                "dirty_secs": json_ship["dirty"],
            }
        return {
            "replay_secs": round(secs, 3),
            "events": n_events,
            "events_per_sec": round(n_events / secs, 1),
            "replay_json_secs": round(json_secs, 3),
            "json_events_per_sec": round(n_events / json_secs, 1),
            # the shipping-rule record (VERDICT r7 #3): how many clean
            # samples each headline landed from; stale sides carry the
            # last clean artifact + their dirty readings side-by-side
            "headline_clean": {
                "typed": typed_ship["clean_samples"],
                "json": json_ship["clean_samples"],
            },
            **({"stale_window": stale} if stale else {}),
            **({"ratio_unadjudicated": True} if ratio_unadjudicated else {}),
            "incremental_secs": round(inc_secs, 3),
            "incremental_events_per_sec": round(n_events / inc_secs, 1),
            "incremental_mor_secs": round(mor_secs, 3),
            "incremental_mor_events_per_sec": round(n_events / mor_secs, 1),
            "final_rows": rows,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _fast_tmp() -> str | None:
    """tmpfs for all bench I/O: the sandbox's single virtual disk stalls
    on dirty-page flushes after ~1GB of writes, progressively degrading
    later queries in the run (BENCH/run_scaling.py methodology notes)."""
    return "/dev/shm" if os.path.isdir("/dev/shm") else None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    local_dir = tempfile.mkdtemp(prefix="bench_spark_local_", dir=_fast_tmp())
    spark = get_spark("bench", extra_conf={"spark.local.dir": local_dir})

    # Headline size: 4x the former 8M*sf default. With decode reduced to
    # a projection, an 800k-event replay finishes in ~2.8s — mostly the
    # ~2s per-job constant (driver planning + scheduling + write commit;
    # BENCH/BASELINE.md round-4 phase probe), which measures the
    # constant, not the engine. 3.2M events at sf0.1 puts the headline
    # back in the throughput-bound regime the baseline describes.
    n_events = int(os.environ.get("BENCH_EVENTS", str(max(400_000, int(32_000_000 * sf)))))
    head = headline_replay(spark, n_events)

    import __spark_entry__ as entrymod

    only = os.environ.get("BENCH_QUERIES")
    wanted = set(only.split(",")) if only else None
    qtimes: dict[str, float] = {}
    for name, fn in sorted(entrymod.queries().items()):
        if wanted and name not in wanted:
            continue
        # min of 2: first run pays codegen + shuffles contaminated by the
        # preceding query's GC; the hypervisor adds multi-second noise
        best = None
        for _ in range(2):
            t0 = time.time()
            fn(spark, sf_dir).count()
            one = time.time() - t0
            best = one if best is None else min(best, one)
        qtimes[name] = round(best, 3)
        # window guard: a polluted window during this query's samples ->
        # discard and re-time once (bounded; the control reading decides)
        if not _window_ok(spark):
            t0 = time.time()
            fn(spark, sf_dir).count()
            redo = time.time() - t0
            if _window_ok(spark):
                qtimes[name] = round(min(best, redo), 3)

    out = {
        "metric": "cdc_replay_wall_seconds",
        "value": head["replay_secs"],
        "unit": "sec",
        "queries": qtimes,
        "sf": sf,
        **head,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        "timing": "headline_fresh_pinned_jvm_min_of_4",
        # window-control record (VERDICT r6 #1): best/max fixed-control
        # reading and how many polluted windows were rejected+rerun —
        # the artifact now carries the evidence of its own validity
        "control_best": round(_CONTROL["best"], 3) if _CONTROL["best"] else None,
        "control_max": round(max(_CONTROL["readings"]), 3) if _CONTROL["readings"] else None,
        "window_rejects": _CONTROL["rejected"],
        "json_vs_typed_ratio": round(head["replay_json_secs"] / head["replay_secs"], 2),
    }
    # full results (incl. per-query deltas vs the previous round) go to a
    # FILE; the stdout line must stay under the driver's 2000-char tail
    # capture or BENCH_r{N}.json records parsed=null (the r02 failure
    # mode: delta_vs_prev pushed the line past the budget).
    full = dict(out)
    full["control_readings"] = _CONTROL["readings"]
    # interleaved HEAD-vs-prev A/Bs are cdcbench/run.py's job; this run
    # measures no A/B, so the fields stay in the line as null
    out["ab_min_head"] = out["ab_min_prev"] = None
    prev = _prev_round_queries()
    if prev:
        full["delta_vs_prev"] = {
            q: round(t - prev[q], 3) for q, t in qtimes.items() if q in prev
        }
    here = os.path.dirname(os.path.abspath(__file__))
    full_path = os.path.join(here, "BENCH", "bench_latest.json")
    os.makedirs(os.path.dirname(full_path), exist_ok=True)
    with open(full_path, "w") as f:
        json.dump(full, f, indent=1)
    out["full_results"] = "BENCH/bench_latest.json"
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1900:  # stay inside the tail budget, queries are the must-keep
        for drop in (
            "full_results", "timing", "final_rows", "cpus",
            "json_vs_typed_ratio", "control_max", "headline_clean",
            # derivable from the *_secs fields, which stay
            "json_events_per_sec", "incremental_events_per_sec",
            "incremental_mor_events_per_sec",
            # last resort at 50+ queries: these live in
            # BENCH/bench_latest.json (committed) — the stdout line must
            # keep metric/value/queries inside the driver's tail budget
            "incremental_mor_secs", "incremental_secs", "replay_json_secs",
            "events_per_sec", "events",
        ):
            out.pop(drop, None)
            line = json.dumps(out, separators=(",", ":"))
            if len(line) <= 1900:
                break
    print(line)
    shutil.rmtree(local_dir, ignore_errors=True)


def _prev_round_queries() -> dict[str, float] | None:
    """Per-query secs from the newest BENCH_r*.json (round-over-round
    regression visibility; same-sf same-box caveats in BENCH/BASELINE.md)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds = sorted(
        glob.glob(os.path.join(here, "BENCH_r*.json")),
        key=lambda p: int(re.search(r"BENCH_r(\d+)", p).group(1)),
    )
    if not rounds:
        return None
    try:
        with open(rounds[-1]) as f:
            doc = json.load(f)
        q = (doc.get("parsed") or doc).get("queries")
        if q:
            return q
        # r2-era artifacts: the stdout line outgrew the driver's 2000-char
        # tail capture, so parsed is null — reconstruct from the tail's
        # (complete) delta_vs_prev dict + the previous round's queries.
        tail = doc.get("tail", "")
        m = re.search(r'"delta_vs_prev": (\{[^{}]*\})', tail)
        if m and len(rounds) >= 2:
            delta = json.loads(m.group(1))
            with open(rounds[-2]) as f:
                prev_doc = json.load(f)
            prev_q = (prev_doc.get("parsed") or prev_doc).get("queries") or {}
            return {
                k: round(prev_q[k] + d, 3) for k, d in delta.items() if k in prev_q
            }
        return None
    except Exception:
        return None


if __name__ == "__main__":
    main()
