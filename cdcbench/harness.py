"""Run shape, statistics, memory readings and the result line.

Everything here is engine-agnostic: the workloads import the engine only
after `pin_environment` has fixed the process environment the engine and
its Python workers start from.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: scratch space for inputs, tables, artifacts and Spark's local dirs;
#: inside the checkout so a run reads and writes nothing outside it
WORK_ROOT = os.path.join(ROOT, ".cdcbench_work")

#: driver heap: far below this box's RAM (the engine default, 16g, is
#: larger than the whole machine)
DRIVER_MEM = "3g"


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def pin_environment(work_dir: str) -> dict:
    """Fix the run shape before pyspark or the engine is imported:
    `local[nproc]`, a bounded driver heap, worker import path, and every
    temporary file under `work_dir`. Returns the settings for the report."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    pythonpath = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    env = {
        # session.py reads this at import time (default local[32])
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        # mapInPandas workers import the engine package from the checkout
        "PYTHONPATH": pythonpath,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        # overrides spark.local.dir when set in the caller's environment
        "SPARK_LOCAL_DIRS": local,
    }
    os.environ.update(env)
    os.environ.pop("BINGO_SPARK_CONF", None)
    return env


def spark_placement_conf(work_dir: str) -> dict:
    """Where Spark puts its files and whether it draws progress bars —
    placement and display only, no engine tuning."""
    tmp = os.path.join(work_dir, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def make_work_dir() -> str:
    """A fresh run-<pid> dir; dirs left by runs that were killed are
    removed first."""
    if os.path.isdir(WORK_ROOT):
        for name in os.listdir(WORK_ROOT):
            pid = name.removeprefix("run-")
            if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(os.path.join(WORK_ROOT, name), ignore_errors=True)
    d = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def remove_work_dir(d: str) -> None:
    shutil.rmtree(d, ignore_errors=True)
    try:
        os.rmdir(WORK_ROOT)  # only when no other run is using it
    except OSError:
        pass


# -- statistics ------------------------------------------------------------

#: candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default definition)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile of TAIL_LADDER with at least `beyond`
    samples strictly above its rank, as (p, value). With too few samples
    for any of them the maximum is returned as p=100."""
    n = len(values)
    for p in TAIL_LADDER:
        # samples ranked above the percentile's position
        if n - 1 - math.floor((n - 1) * p / 100.0) >= beyond:
            return p, percentile(values, p)
    return 100.0, max(values)


def timing_summary(values: list[float]) -> dict:
    p, tail = tail_percentile(values)
    return {
        "p50": statistics.median(values),
        "tail": tail,
        "tail_pct": p,
        "n": len(values),
    }


# -- memory ----------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    seen, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in _children(p):
            if c not in seen:
                seen.append(c)
                todo.append(c)
    return seen


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


_TICK = os.sysconf("SC_CLK_TCK")
#: HotSpot's JIT compiler threads (the kernel cuts names to 15 characters)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def cpu_snapshot() -> dict:
    """User plus system CPU ticks of every thread of this process and of
    every process under it (the JVM, its Python workers), keyed by
    (pid, tid). Time the hypervisor steals is charged to no thread, so
    when other tenants load the host CPU time rises by a fraction of what
    wall time does (shared caches still slow it). JIT compiler threads
    are left out: compiling is warm-up that a long-running ingest pays
    once, and it runs beside whichever op triggered it."""
    snap = {}
    me = os.getpid()
    for pid in [me] + descendants(me):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    head, rest = f.read().rsplit(")", 1)
            except OSError:
                continue
            if head.split("(", 1)[1].startswith(_JIT_THREADS):
                continue
            fields = rest.split()
            # utime, stime: fields 14 and 15 of proc(5)
            snap[(pid, tid)] = int(fields[11]) + int(fields[12])
    return snap


def stamp() -> tuple[float, dict]:
    """Wall clock and CPU snapshot at one instant."""
    return time.time(), cpu_snapshot()


def elapsed(a: tuple[float, dict], b: tuple[float, dict]) -> tuple[float, float]:
    """(wall seconds, CPU seconds) between two stamps. The CPU sum covers
    the threads alive at `b`; a thread that ended in between loses its
    last ticks."""
    cpu = sum(v - a[1].get(k, 0) for k, v in b[1].items())
    return b[0] - a[0], cpu / _TICK


def rss_by_process() -> dict:
    """VmHWM in MiB of this driver process and every process under it
    (the JVM and its Python workers), keyed by "pid command"."""
    me = os.getpid()
    out = {}
    for p in [me] + descendants(me):
        try:
            with open(f"/proc/{p}/comm") as f:
                name = f.read().strip()
        except OSError:
            continue
        out[f"{p} {name}"] = vm_hwm_kb(p) / 1024.0
    return out


# -- output ----------------------------------------------------------------


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
            },
        }
    )


class Workload:
    """Op-loop defaults: at least `min_ops` timed ops, then stop once the
    measuring time is over."""

    min_ops = 3

    def timings(self, samples: list[dict]) -> dict:
        """The gated per-op CPU costs: medians, and the 90th percentile
        as the tail (the maximum of a few samples is mostly noise)."""
        w = [s["write_cpu_s"] for s in samples]
        r = [s["read_cpu_s"] for s in samples]
        return {
            "write_cpu_s": statistics.median(w),
            "write_tail_cpu_s": percentile(w, 90),
            "read_cpu_s": statistics.median(r),
            "read_tail_cpu_s": percentile(r, 90),
        }

    def wants_more(self, ops: int, expired: bool) -> bool:
        return ops < self.min_ops or not expired

    def finish(self, samples: list[dict]) -> list[str]:
        """Checks that need the whole run; returns run-level errors."""
        return []


def log(msg: str) -> None:
    """Progress to standard error (standard output carries the result)."""
    sys.stderr.write(f"cdcbench {time.strftime('%H:%M:%S')} {msg}\n")
    sys.stderr.flush()
