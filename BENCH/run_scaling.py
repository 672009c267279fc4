"""Scaling-efficiency evidence for the north rule.

The rule demands throughput scaling efficiency >= 0.8 between N and 4N
executors. No real cluster exists in this sandbox, so per the sandbox
protocol (BASELINE.md) we run the IDENTICAL headline job — raw wire
events (JSON row images) -> decode -> filters -> LWW resolve ->
Iceberg-lite MERGE — on the same input at two parallelism levels,
local[N] vs local[4N].

Methodology (mirrors the reference's /usr/bin/time medians, docs/test.md):
- input generated ONCE on tmpfs, shared read-only by every run;
- each timed run is a FRESH JVM pinned to its core budget with taskset
  (a local[8] JVM otherwise still uses all machine threads for GC and
  compression, flattering the small run; long-lived JVMs also degrade
  across repeated jobs, which would contaminate later runs);
- one warmup replay (JIT/codegen) then ONE timed replay per JVM;
- MINIMUM over --runs JVMs per level: the sandbox hypervisor has noisy
  neighbors (intermittent multi-second stalls with steal-time spikes,
  identical code varying 4s-50s), so the minimum — not the median — is
  the statistic that reflects engine cost rather than interference;
- all I/O on tmpfs: the sandbox's single virtual disk stalls on dirty-
  page flushes — an artifact a real cluster's per-node disks don't have.
- the machine must be otherwise idle.

Usage: python BENCH/run_scaling.py [--events N] [--runs K] [--out BENCH/BASELINE.md]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PREP = r"""
import sys
sys.path.insert(0, {repo!r})
from bingo2sql_spark.session import get_spark
from bingo2sql_spark.sources.synth import generate_events, to_raw, to_raw_typed

out, n_events, wire = sys.argv[1], int(sys.argv[2]), sys.argv[3]
landing = sys.argv[4] if len(sys.argv) > 4 else "flat"
spark = get_spark("scaling-prep")
n_keys = max(1000, n_events // 8)
ev = generate_events(spark, n_keys=n_keys, versions_per_key=8,
                     n_repos=max(50, n_keys // 200))
land = to_raw_typed if wire == "typed" else to_raw
if landing == "bucketed":
    # bucket-aligned landing (VERDICT r7 #1): the transport fans events
    # out by the target table's bucket function, typed wire only
    from bingo2sql_spark.sources.layout import land_bucket_aligned
    assert wire == "typed", "bucket-aligned landing needs the typed wire"
    land_bucket_aligned(land(ev), out, n_buckets=64)
else:
    land(ev).write.mode("overwrite").parquet(out)
print("PREP_DONE")
"""

CHILD = r"""
import json, os, sys, tempfile, time, shutil
sys.path.insert(0, {repo!r})
from bingo2sql_spark.session import get_spark
from bingo2sql_spark.sources.decode import decode_events, decode_events_typed
from bingo2sql_spark.operators.apply import IcebergLiteTable
from bingo2sql_spark.pipeline import replay

cores, raw_dir, n_events, wire = int(sys.argv[1]), sys.argv[2], int(sys.argv[3]), sys.argv[4]
tmp = tempfile.mkdtemp(prefix=f"scale{{cores}}_", dir="/dev/shm" if os.path.isdir("/dev/shm") else None)
spark = get_spark(f"scaling-{{cores}}", master=f"local[{{cores}}]", shuffle_partitions=cores,
                  extra_conf={{"spark.local.dir": tmp + "/spark-local"}})
raw = spark.read.parquet(raw_dir)
KEYS = ["repo", "path"]  # forward replay: narrow before-image decode
decode = decode_events_typed if wire == "typed" else decode_events
warm = IcebergLiteTable(tmp + "/warm", n_buckets=8)
replay(decode(raw.filter("seq % 50 = 0"), before_fields=KEYS), warm, batch_id="w", tables=["repo_files"])
t = IcebergLiteTable(tmp + "/tgt", n_buckets=64)
t0 = time.time()
replay(decode(raw, before_fields=KEYS), t, batch_id="b", tables=["repo_files"])
secs = time.time() - t0
# driver-JVM GC wall (local mode: the one JVM) — stop-the-world pauses
# act as a SERIAL term that caps N-vs-4N efficiency, so report it
gc_ms = sum(b.getCollectionTime()
            for b in spark._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans())
print(json.dumps({{"cores": cores, "secs": round(secs, 3),
                   "gc_secs": round(gc_ms / 1000.0, 1)}}))
shutil.rmtree(tmp, ignore_errors=True)
"""


def run_one(cores: int, raw_dir: str, n_events: int, wire: str) -> float:
    out = subprocess.run(
        ["taskset", "-c", f"0-{cores - 1}", sys.executable, "-c",
         CHILD.format(repo=REPO), str(cores), raw_dir, str(n_events), wire],
        capture_output=True, text=True, timeout=1200,
    )
    for line in reversed(out.stdout.strip().splitlines()):
        if line.strip().startswith("{"):
            rec = json.loads(line)
            if rec.get("gc_secs") is not None:
                print(f"  cores={cores}: {rec['secs']}s (gc {rec['gc_secs']}s)",
                      flush=True)
            return rec["secs"]
    raise RuntimeError(f"child failed (cores={cores}):\n{out.stderr[-3000:]}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=3_200_000)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--n", type=int, default=8, help="small cluster size N (4N is the big one)")
    ap.add_argument("--wire", choices=("typed", "json"), default="typed",
                    help="raw landing format: typed structs (headline; decode is "
                         "a projection) or JSON text (connector fallback)")
    ap.add_argument("--landing", choices=("flat", "bucketed"), default="flat",
                    help="event landing layout: flat time-ordered parquet, or "
                         "bucket-aligned (partitioned by the target table's "
                         "bucket function — the partition-keyed-transport "
                         "shape; typed wire only)")
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH", "BASELINE.md"))
    args = ap.parse_args()

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="scaling_input_", dir=base)
    raw_dir = os.path.join(work, "raw")
    try:
        prep = subprocess.run(
            [sys.executable, "-c", PREP.format(repo=REPO), raw_dir, str(args.events),
             args.wire, args.landing],
            capture_output=True, text=True, timeout=1200,
        )
        if "PREP_DONE" not in prep.stdout:
            raise RuntimeError(f"prep failed:\n{prep.stderr[-2000:]}")

        # INTERLEAVE the two levels (N, 4N, N, 4N, ...): the box's
        # throughput drifts up to ~40% between windows minutes apart, so
        # running all small-level JVMs then all big-level JVMs lets one
        # window own one level and biases the RATIO (observed round 5:
        # an un-interleaved zstd control read 0.67 purely from a slow
        # window owning the 4N block). Alternation spreads any drift
        # across both levels; min-of-runs then rejects the slow windows
        # per level symmetrically.
        times: dict[int, list[float]] = {args.n: [], args.n * 4: []}
        for _ in range(args.runs):
            for cores in (args.n, args.n * 4):
                times[cores].append(
                    run_one(cores, raw_dir, args.events, args.wire))
        results = {}
        for cores, ts in times.items():
            ts = sorted(ts)
            results[cores] = {
                "cores": cores,
                "events": args.events,
                "runs": args.runs,
                "best_secs": ts[0],
                "all_secs": ts,
                "events_per_sec": round(args.events / ts[0], 1),
            }
    finally:
        shutil.rmtree(work, ignore_errors=True)

    r8, r32 = results[args.n], results[args.n * 4]
    eff = (r32["events_per_sec"] / r8["events_per_sec"]) / 4.0

    md = f"""# BENCH/BASELINE — scaling-efficiency evidence (N vs 4N)

North rule criterion: CDC replay throughput scaling efficiency >= 0.8
between N and 4N executors. Sandbox protocol (no real cluster): the
IDENTICAL job — raw wire events ({args.wire} row images) -> decode ->
filters -> per-key LWW -> Iceberg-lite MERGE commit — on the same tmpfs input,
one timed run per FRESH JVM pinned with taskset to its core budget,
LEVELS INTERLEAVED (N, 4N, N, 4N, ...) so window drift cannot own one
level, best of {args.runs} JVMs per level (see
run_scaling.py header for why pinning + fresh JVMs + tmpfs + minimum
are required for a clean signal on this shared hypervisor).

Generated {datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M UTC")} by `python BENCH/run_scaling.py --events {args.events} --runs {args.runs} --wire {args.wire}`.

| parallelism | events | best wall (s) | events/sec |
|---|---|---|---|
| local[{args.n}]  (N)  | {r8["events"]:,}  | {r8["best_secs"]}  | {r8["events_per_sec"]:,} |
| local[{args.n * 4}] (4N) | {r32["events"]:,} | {r32["best_secs"]} | {r32["events_per_sec"]:,} |

- speedup (4N vs N): **{r32["events_per_sec"] / r8["events_per_sec"]:.2f}x**
- scaling efficiency = speedup / 4 = **{eff:.2f}** (criterion: >= 0.8)
- all runs local[{args.n}]: {r8["all_secs"]} s; local[{args.n * 4}]: {r32["all_secs"]} s

Reference single-node baseline (BASELINE.md): ~1.45e5 change-rows/s for
SQL-text generation only. This engine at local[{args.n * 4}]:
{r32["events_per_sec"]:,} events/s for decode + LWW resolve + MERGE
into a bucketed table (a strictly heavier job).

Why the design holds at 10^10 events / 1000 executors: the only wide
exchanges are (1) the merge groupBy — map-side-combinable max_by, so
shuffle bytes scale with #distinct keys per partition, not #events —
and (2) the bucket-clustered write. Both scale with input size; manifest
pruning keeps commits proportional to touched buckets, not table size.
"""
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        f.write(md)
    print(json.dumps({"localN": r8, "local4N": r32, "efficiency": round(eff, 3)}))


if __name__ == "__main__":
    main()
