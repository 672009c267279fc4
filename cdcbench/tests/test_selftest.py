"""Self-tests of the benchmark: the oracle, failure accounting, statistics.

    python3 -m pytest cdcbench/tests -q

The oracle tests start a small Spark session; the failure tests run the
benchmark command itself (one JVM each, about a minute).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from cdcbench import harness as H  # noqa: E402
from cdcbench import oracle as O  # noqa: E402


# -- statistics --------------------------------------------------------------


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = [float(x) for x in range(1, 41)]
    p, v = H.tail_percentile(xs)
    # p90 of 40 samples leaves 4 above it, p75 leaves 10
    assert p == 75.0
    assert sum(1 for x in xs if x > v) >= 10
    assert H.tail_percentile([float(x) for x in range(1000)])[0] == 99.0
    # the median of 20 samples has 10 above it
    assert H.tail_percentile([float(x) for x in range(20)])[0] == 50.0


def test_tail_percentile_without_enough_samples_is_the_max():
    assert H.tail_percentile([3.0, 1.0, 2.0]) == (100.0, 3.0)
    assert H.tail_percentile([float(x) for x in range(19)]) == (100.0, 18.0)


def test_cpu_stamps_count_work_not_waiting():
    import time

    t0 = H.stamp()
    end = time.time() + 0.5
    while time.time() < end:
        pass
    t1 = H.stamp()
    time.sleep(0.5)
    t2 = H.stamp()
    wall, cpu = H.elapsed(t0, t1)
    # a busy loop is charged nearly all its wall time (less what the host steals)
    assert 0.5 * wall < cpu <= wall + 0.05
    wall, cpu = H.elapsed(t1, t2)
    assert wall >= 0.5 and cpu < 0.1


# -- the DuckDB oracle against the engine's sequential-apply oracle -------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    H.pin_environment(str(tmp_path_factory.mktemp("work")))
    from bingo2sql_spark.session import get_spark

    return get_spark("cdcbench-selftest", master="local[2]", shuffle_partitions=2)


@pytest.fixture(scope="module", params=[3, 11])
def landed(spark, tmp_path_factory, request):
    """A small synthetic stream (deletes, re-inserts, two tables) landed
    as typed parquet, and the same rows as pandas."""
    from bingo2sql_spark.sources.synth import generate_events, to_raw_typed

    path = str(tmp_path_factory.mktemp(f"seed{request.param}") / "events")
    ev = generate_events(spark, n_keys=60, versions_per_key=12, n_repos=5, seed=request.param)
    to_raw_typed(ev).coalesce(1).write.parquet(path)
    pdf = spark.read.parquet(path).toPandas().sort_values("seq").reset_index(drop=True)
    return O.parquet_source(os.path.join(path, "*.parquet")), pdf


def _keyed(pdf):
    key = pdf.apply(
        lambda r: tuple((r["after"] or r["before"])[k] for k in ("repo", "path")), axis=1
    )
    return pdf.assign(key=key)


def test_stream_covers_deletes_reinserts_and_other_tables(landed):
    _, pdf = landed
    ev = _keyed(pdf)
    assert (ev["table"] != "repo_files").any()
    rf = ev[ev["table"] == "repo_files"]
    reinserted = [
        k for k, g in rf.groupby("key")
        if "delete" in list(g["op"])
        and "insert" in list(g["op"])[list(g["op"]).index("delete"):]
    ]
    assert reinserted


def test_forward_state_matches_sequential_apply(landed):
    from bingo2sql_spark import oracle as SEQ

    src, pdf = landed
    kept = pdf[pdf["table"] == "repo_files"]
    want = SEQ.state_checksum(SEQ.sequential_apply(kept))
    con = O.connect()
    assert O.lww_state(con, src, tables=["repo_files"]) == want
    # the table filter matters: without it other tables' rows leak in
    assert O.lww_state(con, src, tables=["repo_files", "audit_log"]) != want


def test_flashback_state_matches_sequential_apply(landed):
    from bingo2sql_spark import oracle as SEQ

    src, pdf = landed
    kept = pdf[pdf["table"] == "repo_files"]
    full = SEQ.sequential_apply(kept)
    mid = pdf.iloc[len(pdf) // 2]
    start = (mid["log_file"], int(mid["log_pos"]))
    tail = kept[kept["seq"] >= mid["seq"]]
    want = SEQ.state_checksum(SEQ.sequential_apply(SEQ.invert_events(tail), initial=full))
    con = O.connect()
    got = O.lww_state(
        con, src, tables=["repo_files"], start=start,
        initial=SEQ.state_checksum(full), flashback=True,
    )
    assert got == want
    # rolling back the suffix restores the state before it
    before_mid = SEQ.state_checksum(SEQ.sequential_apply(kept[kept["seq"] < mid["seq"]]))
    assert got == before_mid


# -- a wrong expectation fails the run and counts in the error rate -------------

_TAMPER = {
    # drop one row (repo-0000 sorts first) from every expected table state
    "tail_mor": """
        from cdcbench import oracle, tail_mor
        tail_mor.N_KEYS, tail_mor.BATCH_EVENTS = 2_000, 200
        real = oracle.lww_state
        oracle.lww_state = lambda *a, **k: real(*a, **k)[1:]
    """,
    # expect one INSERT that the rollback cannot contain
    "binlog_flashback": """
        from cdcbench import binlog_flashback as B
        B.BASE_ROWS = 3_000
        real = B.write_binlog
        def wrong(*a, **k):
            info = real(*a, **k)
            info["expect"]["INSERT INTO"] = sorted(
                info["expect"]["INSERT INTO"] + ["src/f9999999.py"])
            return info
        B.write_binlog = wrong
    """,
}


@pytest.mark.parametrize("workload", sorted(_TAMPER))
def test_wrong_expectation_fails_the_run(workload):
    code = "\n".join([
        "import sys",
        f"sys.path.insert(0, {ROOT!r})",
        textwrap.dedent(_TAMPER[workload]),
        "from cdcbench import run",
        f"sys.exit(run.main(['--workload', {workload!r}, '--seed', '5', '--seconds', '1']))",
    ])
    p = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=300
    )
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    report, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert result["correct"] is False
    assert result["attempted"] >= 1
    assert result["failed"] == result["attempted"]
    assert report["error_rate"] == 1.0
    assert report["errors"]
