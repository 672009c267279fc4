"""Interleaved HEAD-vs-previous-round A/B — the r7 NOTES protocol as a
first-class artifact (VERDICT r7 #8), so round verdicts stop
re-adjudicating window noise from prose.

Why interleaved minima: identical Spark jobs on this shared hypervisor
swing 4-226 s between measurement windows minutes apart. Running all
HEAD samples then all PREV samples lets one window own one side and
biases the comparison; alternating (HEAD, PREV, HEAD, PREV, ...) fresh
pinned JVMs over the SAME tmpfs input spreads drift across both sides,
and the per-side minimum then rejects the slow windows symmetrically.

Usage:
  python BENCH/ab_check.py [--prev <rev>] [--events N] [--pairs K] [--cores C]

Writes BENCH/ab_latest.json:
  {"prev_rev": ..., "head_rev": ..., "ab_pairs": [[head_s, prev_s], ...],
   "ab_min_head": ..., "ab_min_prev": ..., "events": N, "cores": C}
bench.py folds these fields into BENCH/bench_latest.json when present.
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
sys.path.insert(0, os.path.join(REPO, "BENCH"))
import run_scaling as RS  # noqa: E402  (shared PREP/CHILD templates)


def _run_one(repo: str, cores: int, raw_dir: str, n_events: int, wire: str) -> float:
    out = subprocess.run(
        ["taskset", "-c", f"0-{cores - 1}", sys.executable, "-c",
         RS.CHILD.format(repo=repo), str(cores), raw_dir, str(n_events), wire],
        capture_output=True, text=True, timeout=1800,
    )
    for line in reversed(out.stdout.strip().splitlines()):
        if line.strip().startswith("{"):
            return json.loads(line)["secs"]
    raise RuntimeError(f"child failed ({repo}, cores={cores}):\n{out.stderr[-3000:]}")


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", REPO, *args], capture_output=True, text=True, check=True
    ).stdout.strip()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--prev", default=None,
                    help="rev of the previous round (default: the newest "
                         "'round N: verdict' commit)")
    ap.add_argument("--events", type=int, default=3_200_000)
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "16")))
    ap.add_argument("--wire", choices=("typed", "json"), default="typed")
    args = ap.parse_args()

    prev_rev = args.prev
    if prev_rev is None:
        # newest end-of-round marker commit = the code the last BENCH_r{N}
        # was recorded against
        prev_rev = _git("log", "--grep", "^round [0-9]*: verdict", "-n", "1",
                        "--format=%H")
        if not prev_rev:
            raise SystemExit("no 'round N: verdict' commit found; pass --prev")
    head_rev = _git("rev-parse", "HEAD")

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="ab_check_", dir=base)
    prev_tree = os.path.join(work, "prev")
    raw_dir = os.path.join(work, "raw")
    try:
        _git("worktree", "add", "--detach", prev_tree, prev_rev)
        prep = subprocess.run(
            [sys.executable, "-c", RS.PREP.format(repo=REPO), raw_dir,
             str(args.events), args.wire],
            capture_output=True, text=True, timeout=1800,
        )
        if "PREP_DONE" not in prep.stdout:
            raise RuntimeError(f"prep failed:\n{prep.stderr[-2000:]}")
        pairs: list[list[float]] = []
        for i in range(args.pairs):
            h = _run_one(REPO, args.cores, raw_dir, args.events, args.wire)
            p = _run_one(prev_tree, args.cores, raw_dir, args.events, args.wire)
            pairs.append([round(h, 3), round(p, 3)])
            print(f"pair {i + 1}/{args.pairs}: head={h:.2f}s prev={p:.2f}s",
                  flush=True)
    finally:
        subprocess.run(["git", "-C", REPO, "worktree", "remove", "--force",
                        prev_tree], capture_output=True)
        shutil.rmtree(work, ignore_errors=True)

    doc = {
        "protocol": "interleaved fresh pinned JVMs over one tmpfs input; "
                    "per-side minimum (see module docstring)",
        "generated": datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M UTC"),
        "head_rev": head_rev,
        "prev_rev": prev_rev,
        "events": args.events,
        "cores": args.cores,
        "wire": args.wire,
        "ab_pairs": pairs,
        "ab_min_head": min(h for h, _ in pairs),
        "ab_min_prev": min(p for _, p in pairs),
    }
    out_path = os.path.join(REPO, "BENCH", "ab_latest.json")
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps({k: doc[k] for k in
                      ("ab_min_head", "ab_min_prev", "events", "cores")}))


if __name__ == "__main__":
    main()
