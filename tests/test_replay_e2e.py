"""End-to-end replay vs sequential oracle — the differential golden test
(reference pattern: core/parser_test.go:434-453 remote-vs-local
cross-validation; here distributed-Spark vs single-threaded Python)."""

from __future__ import annotations

import pytest

from bingo2sql_spark import oracle
from bingo2sql_spark.operators.apply import IcebergLiteTable
from bingo2sql_spark.pipeline import replay


@pytest.fixture(scope="module")
def events_pdf(small_events):
    return small_events.select("seq", "op", "before", "after").toPandas()


def test_synth_invariants(small_events):
    """The generator honors binlog invariants: valid before images,
    insert-after-delete, per-key seq monotone."""
    def as_dict(x):
        if x is None:
            return None
        return x.asDict() if hasattr(x, "asDict") else dict(x)

    pdf = small_events.select("seq", "op", "before", "after").toPandas()
    state = {}
    for _, e in pdf.sort_values("seq").iterrows():
        before = as_dict(e["before"])
        after = as_dict(e["after"])
        img = after or before
        key = (img["repo"], img["path"])
        if e["op"] == "insert":
            assert key not in state, f"insert into live key {key} at seq {e['seq']}"
            assert before is None
            state[key] = after
        elif e["op"] == "update":
            assert key in state, f"update of dead key {key}"
            assert state[key]["content"] == before["content"], "stale before image"
            state[key] = after
        elif e["op"] == "delete":
            assert key in state, f"delete of dead key {key}"
            assert state[key]["content"] == before["content"]
            assert after is None
            del state[key]
    assert state, "stream should leave live keys"


def test_replay_matches_sequential_oracle(spark, small_events, events_pdf, tmp_path):
    table = IcebergLiteTable(str(tmp_path / "target"), n_buckets=16)
    metrics = replay(small_events, table, batch_id="full")
    assert not metrics["skipped"]
    expected = oracle.state_checksum(oracle.sequential_apply(events_pdf))
    assert table.state_checksum(spark) == expected
    assert len(expected) > 0


def test_flashback_roundtrip(spark, small_events, events_pdf, tmp_path):
    """apply(forward); apply(flashback) == initial (empty) state —
    metamorphic property implied by core/parser_test.go:806-811."""
    table = IcebergLiteTable(str(tmp_path / "t2"), n_buckets=8)
    replay(small_events, table, batch_id="fwd")
    assert len(table.state_checksum(spark)) > 0
    replay(small_events, table, batch_id="rollback", flashback=True)
    assert table.state_checksum(spark) == []


def test_flashback_partial_rollback(spark, small_events, events_pdf, tmp_path):
    """Forward-replay everything, then flash back only the tail half:
    final state == sequential apply of the first half."""
    cut = int(events_pdf["seq"].max()) // 2
    table = IcebergLiteTable(str(tmp_path / "t3"), n_buckets=8)
    replay(small_events, table, batch_id="fwd")
    replay(
        small_events.filter(f"seq > {cut}"),
        table,
        batch_id="rb-tail",
        flashback=True,
    )
    first_half = events_pdf[events_pdf["seq"] <= cut]
    expected = oracle.state_checksum(oracle.sequential_apply(first_half))
    assert table.state_checksum(spark) == expected


def test_exactly_once_idempotent_batch(spark, small_events, tmp_path):
    """Re-delivering a committed batch_id is a no-op (commit manifest)."""
    table = IcebergLiteTable(str(tmp_path / "t4"), n_buckets=8)
    m1 = replay(small_events, table, batch_id="b1")
    chk = table.state_checksum(spark)
    m2 = replay(small_events, table, batch_id="b1")
    assert m2["skipped"] and not m1["skipped"]
    assert table.state_checksum(spark) == chk


@pytest.mark.parametrize("write_mode", ["cow", "mor"])
def test_incremental_batches_converge(spark, small_events, events_pdf, tmp_path, write_mode):
    """Split replay (<=k then >k) == full replay; replaying an
    overlapping range again (different batch_id, so stored and batch
    rows share seqs) still converges, because LWW keeps the max-seq
    winner and equal seqs carry equal rows; and a flashback of the
    whole stream then empties the table. Every state is checked against
    the sequential oracle, the ground truth."""
    def expect(events):
        return oracle.state_checksum(oracle.sequential_apply(events))

    cut = int(events_pdf["seq"].max()) // 3
    table = IcebergLiteTable(str(tmp_path / "t5"), n_buckets=8, write_mode=write_mode)
    replay(small_events.filter(f"seq <= {cut}"), table, batch_id="part1")
    assert table.state_checksum(spark) == expect(events_pdf[events_pdf["seq"] <= cut])
    replay(small_events.filter(f"seq > {cut}"), table, batch_id="part2")
    assert table.state_checksum(spark) == expect(events_pdf)
    replay(small_events.filter(f"seq > {cut // 2}"), table, batch_id="overlap")
    assert table.state_checksum(spark) == expect(events_pdf)
    replay(small_events, table, batch_id="rollback", flashback=True)
    assert table.state_checksum(spark) == expect(events_pdf.iloc[:0]) == []


def test_schema_evolution_branch_column(spark, small_events, tmp_path):
    """v1 events lack `branch`; after replaying the full stream the
    target has the column, NULL for keys last written by v1 events,
    populated for v2 writers (added-column NULL-fill, north rule)."""
    table = IcebergLiteTable(str(tmp_path / "t6"), n_buckets=8)
    replay(small_events, table, batch_id="full")
    df = table.read(spark)
    assert "branch" in df.columns
    n_v2 = df.filter("branch is not null").count()
    assert n_v2 > 0


def test_minimal_row_image_replay(spark, tmp_path):
    """binlog_row_image=MINIMAL: update images carry only keys+changed
    columns; the columnar-LWW merge must not clobber untouched columns
    (SURVEY.md §7.4#4). Verified against the partial-apply oracle."""
    from bingo2sql_spark.sources.synth import generate_events

    ev = generate_events(spark, n_keys=150, versions_per_key=8, n_repos=15,
                         seed=9, minimal_image=True)
    pdf = ev.select("seq", "op", "before", "after", "changed_cols").toPandas()
    table = IcebergLiteTable(str(tmp_path / "t"), n_buckets=8)
    replay(ev, table, batch_id="full", row_image="MINIMAL")
    expected = oracle.state_checksum(oracle.sequential_apply(pdf))
    assert table.state_checksum(spark) == expected


def test_minimal_row_image_cross_batch(spark, tmp_path):
    """A partial update in a LATER batch merges column-wise with the
    stored row (lang written by batch 1 must survive a batch-2 update
    that only changed content)."""
    from bingo2sql_spark.sources.synth import generate_events

    ev = generate_events(spark, n_keys=150, versions_per_key=8, n_repos=15,
                         seed=9, minimal_image=True)
    pdf = ev.select("seq", "op", "before", "after", "changed_cols").toPandas()
    cut = int(pdf["seq"].max()) // 2
    table = IcebergLiteTable(str(tmp_path / "t"), n_buckets=8)
    replay(ev.filter(f"seq <= {cut}"), table, batch_id="b1", row_image="MINIMAL")
    replay(ev.filter(f"seq > {cut}"), table, batch_id="b2", row_image="MINIMAL")
    expected = oracle.state_checksum(oracle.sequential_apply(pdf))
    assert table.state_checksum(spark) == expected
    # non-checksum column sanity: langs present on rows whose lang was
    # last written before the cut
    langs = dict(
        ((r["repo"], r["path"]), r["lang"]) for r in table.read(spark).collect()
    )
    exp_state = oracle.sequential_apply(pdf)
    exp_langs = {k: v.get("lang") for k, v in exp_state.items()}
    assert langs == exp_langs


def test_crash_between_data_and_manifest(spark, small_events, events_pdf, tmp_path):
    """Atomicity: the manifest rename is the commit point. A crash after
    snapshot data is written but BEFORE the manifest lands must leave
    the table state unchanged (orphan data only), and retrying the same
    batch must converge to the correct state."""
    table = IcebergLiteTable(str(tmp_path / "t"), n_buckets=8)
    cut = int(events_pdf["seq"].max()) // 2
    replay(small_events.filter(f"seq <= {cut}"), table, batch_id="b1")
    state_before = table.state_checksum(spark)
    version_before = table.latest_manifest()["version"]

    real_write = table._write_manifest

    def boom(m):
        raise RuntimeError("simulated crash before manifest rename")

    table._write_manifest = boom
    try:
        replay(small_events.filter(f"seq > {cut}"), table, batch_id="b2")
        raise AssertionError("expected simulated crash")
    except RuntimeError:
        pass
    finally:
        table._write_manifest = real_write

    # state untouched; orphan snapshot dir may exist but is unreferenced
    assert table.latest_manifest()["version"] == version_before
    assert table.state_checksum(spark) == state_before

    # retry the same batch -> full convergence
    replay(small_events.filter(f"seq > {cut}"), table, batch_id="b2")
    expected = oracle.state_checksum(oracle.sequential_apply(events_pdf))
    assert table.state_checksum(spark) == expected


def test_replay_with_narrow_before_decode(spark, small_events, events_pdf, tmp_path):
    """decode_events(before_fields=keys) — the forward-replay fast path —
    produces the identical final state as the full decode."""
    from bingo2sql_spark.sources.decode import decode_events
    from bingo2sql_spark.sources.synth import to_raw

    raw_dir = str(tmp_path / "raw")
    to_raw(small_events).write.mode("overwrite").parquet(raw_dir)
    raw = spark.read.parquet(raw_dir)
    narrow = decode_events(raw, before_fields=["repo", "path"])
    assert [f.name for f in narrow.schema["before"].dataType.fields] == ["repo", "path"]
    t1 = IcebergLiteTable(str(tmp_path / "t_narrow"), n_buckets=8)
    replay(narrow, t1, batch_id="n")
    t2 = IcebergLiteTable(str(tmp_path / "t_full"), n_buckets=8)
    replay(decode_events(raw), t2, batch_id="f")
    assert t1.state_checksum(spark) == t2.state_checksum(spark)
    assert expected_nonempty(t1, spark)


def expected_nonempty(table, spark):
    return table.read(spark).count() > 0


def test_batch_watermark_bookkeeping(spark, small_events, tmp_path):
    """Only start_ingest-shaped ids (`stream-<12hex queryId>-<epoch>`)
    dedup via a bounded per-queryId watermark (no unbounded
    committed_batches growth); every other id — including ad-hoc ids
    that merely start with 'stream-' — keeps exact-set semantics even
    committed out of order (ADVICE r3)."""
    t = IcebergLiteTable(str(tmp_path / "wm"), n_buckets=8)
    half = small_events.filter("seq < 800")
    qa, qb = "stream-aaaaaaaaaaaa-", "stream-bbbbbbbbbbbb-"
    assert not replay(half, t, batch_id=qa + "0")["skipped"]
    assert not replay(half, t, batch_id=qa + "1")["skipped"]
    assert replay(half, t, batch_id=qa + "0")["skipped"]  # below watermark
    assert replay(half, t, batch_id=qa + "1")["skipped"]
    m = t.latest_manifest()
    assert m["batch_watermarks"] == {qa: 1}
    assert m["committed_batches"] == []  # nothing accumulated
    # ad-hoc ids: out-of-order numbers must NOT be swallowed — including
    # a 'stream-' prefixed id that is NOT start_ingest-shaped (no
    # 12-hex queryId segment): it carries no ordering guarantee
    assert not replay(half, t, batch_id="b3")["skipped"]
    assert not replay(half, t, batch_id="b2")["skipped"]
    assert replay(half, t, batch_id="b3")["skipped"]
    assert not replay(half, t, batch_id="stream-backfill-3")["skipped"]
    assert not replay(half, t, batch_id="stream-backfill-2")["skipped"]  # out of order, still applied
    assert replay(half, t, batch_id="stream-backfill-2")["skipped"]  # exact-set dedup
    # a DIFFERENT checkpoint lineage (fresh queryId) restarts epochs at
    # 0 and must NOT be swallowed by another lineage's watermark
    # (ADVICE r2: silent data loss otherwise)
    assert not replay(half, t, batch_id=qb + "0")["skipped"]
    assert replay(half, t, batch_id=qb + "0")["skipped"]
    wm = t.latest_manifest()["batch_watermarks"]
    assert wm[qa] == 1 and wm[qb] == 0
    m = t.latest_manifest()
    assert set(m["committed_batches"]) == {
        "b3", "b2", "stream-backfill-3", "stream-backfill-2"
    }


def test_time_travel_and_changelog(spark, small_events, tmp_path):
    """Snapshot isolation: read(version=v) reproduces the state as of
    commit v; changes_between(v1, v2) yields the net per-key changelog
    with correct ops and images."""
    from pyspark.sql import functions as F

    t = IcebergLiteTable(str(tmp_path / "tt"), n_buckets=8)
    first = small_events.filter("seq < 800")
    second = small_events.filter("seq >= 800")
    m1 = replay(first, t, batch_id="p1")
    v1 = m1["snapshot"]
    state_v1 = t.state_checksum(spark)
    m2 = replay(second, t, batch_id="p2")
    v2 = m2["snapshot"]
    assert t.versions() == [v1, v2]

    # time-travel read equals the live read taken at v1
    rows_v1 = sorted(
        (r["repo"], r["path"]) for r in t.read(spark, version=v1).collect()
    )
    assert rows_v1 == sorted((a, b) for a, b, _ in state_v1)
    assert t.read(spark, version=v2).count() == t.read(spark).count()

    # changelog: apply it to the v1 state -> v2 state
    ch = t.changes_between(spark, v1, v2).collect()
    assert ch, "second half must change keys"
    v1_keys = {(r[0], r[1]) for r in state_v1}
    for r in ch:
        if r["op"] == "insert":
            assert (r["repo"], r["path"]) not in v1_keys and r["before"] is None
        elif r["op"] == "delete":
            assert (r["repo"], r["path"]) in v1_keys and r["after"] is None
        else:
            assert r["before"] is not None and r["after"] is not None
            assert r["before"] != r["after"]
    # net effect: v1 keys + inserts - deletes == v2 keys
    v2_keys = {(r["repo"], r["path"]) for r in t.read(spark, version=v2).collect()}
    ins = {(r["repo"], r["path"]) for r in ch if r["op"] == "insert"}
    dels = {(r["repo"], r["path"]) for r in ch if r["op"] == "delete"}
    assert (v1_keys | ins) - dels == v2_keys

    # unknown snapshot -> clear error
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.read(spark, version=99)


def test_schema_evolution_partial_bucket_rewrite(spark, tmp_path):
    """A schema-evolving batch that touches only SOME buckets leaves
    mixed-schema files across snapshots; the read must NULL-fill the
    old files per-file, not adopt one random footer (which silently
    dropped the new column's VALUES — r3 regression found by probing):
    reads declare the manifest's union schema explicitly."""
    from pyspark.sql import functions as F

    from bingo2sql_spark import schema as S
    from bingo2sql_spark.operators import resolve as R
    from bingo2sql_spark.sources.synth import generate_events

    t = IcebergLiteTable(str(tmp_path / "mix"), n_buckets=8)
    ev1 = generate_events(spark, n_keys=200, versions_per_key=2, evolve_frac=2.0)
    t.commit(R.to_upsert_rows(R.with_key(ev1), S.payload_columns(1)), "b1")
    ev2 = generate_events(
        spark, n_keys=200, versions_per_key=3, evolve_frac=0.0
    ).filter("seq >= 400 and seq % 67 = 0")  # few keys -> few buckets
    t.commit(R.to_upsert_rows(R.with_key(ev2), S.payload_columns(2)), "b2")
    df = t.read(spark)
    assert "branch" in df.columns
    got = {
        (r["repo"], r["path"]): r["branch"]
        for r in df.filter(F.col("branch").isNotNull()).collect()
    }
    want = {
        (r["after"]["repo"], r["after"]["path"]): r["after"]["branch"]
        for r in ev2.filter("op <> 'delete'").collect()
        if r["after"]["branch"] is not None
    }
    assert got and set(got) <= set(want)
    assert all(want[k] == v for k, v in got.items())


def test_mor_write_mode_end_to_end(spark, small_events, tmp_path):
    """Merge-on-read commits: each commit appends per-bucket delta files
    (O(batch), no stored data read or rewritten); reads reconcile
    base ∪ deltas with the same LWW — so MOR and CoW converge to the
    IDENTICAL state checksum under the same batches. compact() folds
    deltas into a fresh base; exactly-once, time-travel, changelog and
    flashback all behave identically."""
    cow = IcebergLiteTable(str(tmp_path / "cow"), n_buckets=8)
    mor = IcebergLiteTable(str(tmp_path / "mor"), n_buckets=8, write_mode="mor")
    parts = [
        small_events.filter("seq < 600"),
        small_events.filter("seq >= 600 and seq < 1200"),
        small_events.filter("seq >= 1200"),
    ]
    for i, part in enumerate(parts):
        replay(part, cow, batch_id=f"c{i}")
        met = replay(part, mor, batch_id=f"m{i}")
        assert met["mode"] == "mor" and not met["skipped"]
    assert mor.state_checksum(spark) == cow.state_checksum(spark)
    assert replay(parts[0], mor, batch_id="m0")["skipped"]  # exactly-once
    man = mor.latest_manifest()
    assert man["deltas"] and man["metrics"]["delta_depth"] >= 2
    assert man["buckets"] == {}  # no base until compact
    v_pre = man["version"]
    state = mor.state_checksum(spark)

    c = mor.compact(spark)
    assert not c["skipped"]
    man2 = mor.latest_manifest()
    assert man2["deltas"] == {} and man2["buckets"]
    assert mor.state_checksum(spark) == state
    # time-travel to the pre-compact (delta-bearing) version still resolves
    assert mor.read(spark, version=v_pre).count() == mor.read(spark).count()
    # changelog across MOR versions (delta lists are part of the bucket
    # signature, so pruning stays sound)
    assert mor.changes_between(spark, 1, v_pre).count() > 0
    # a MOR commit AFTER compaction layers deltas on the new base
    bump = replay(parts[2], mor, batch_id="m3")
    assert bump["mode"] == "mor" and mor.latest_manifest()["deltas"]
    assert mor.state_checksum(spark) == state  # idempotent re-upsert by LWW
    # flashback drains the table (seq rebase reads lineage from deltas)
    replay(small_events, mor, batch_id="fb", flashback=True)
    assert mor.read(spark).count() == 0
    # flashback over MINIMAL images is impossible anywhere (the
    # unchanged columns were never logged)
    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="MINIMAL"):
        replay(parts[0], cow, batch_id="fbm", flashback=True, row_image="MINIMAL")


def test_cow_commit_drops_rewritten_buckets_deltas(spark, tmp_path):
    """A copy-on-write commit onto a table that still lists MOR deltas
    merges each touched bucket's base and deltas into a new base, so the
    manifest must drop those buckets' delta lists: a later read scans
    the new bases alone (4 files, not 4 bases + 4 stale deltas) and the
    state equals a CoW-only table fed the same two batches."""
    from bingo2sql_spark.operators import resolve as R
    from bingo2sql_spark.sources.synth import generate_events

    ev = generate_events(spark, n_keys=64, versions_per_key=2, seed=3)
    first = R.to_upsert_rows(R.with_key(ev.filter("seq < 64")))
    second = R.to_upsert_rows(R.with_key(ev.filter("seq >= 64")))
    path = str(tmp_path / "t")
    IcebergLiteTable(path, n_buckets=4, write_mode="mor").commit(first, "m1")
    t = IcebergLiteTable(path, n_buckets=4)
    m = t.commit(second, "c2")
    assert m["buckets_rewritten"] == 4, m
    man = t.latest_manifest()
    assert not any(man["deltas"].get(bk) for bk in man["buckets"]), man["deltas"]
    assert len(t.read(spark).inputFiles()) == 4
    control = IcebergLiteTable(str(tmp_path / "control"), n_buckets=4)
    control.commit(first, "m1")
    control.commit(second, "c2")
    assert t.state_checksum(spark) == control.state_checksum(spark)


def test_mor_minimal_row_images(spark, tmp_path):
    """MOR + MINIMAL row images (VERDICT r3 #5): deltas store per-key
    winners WITH their `_col_seqs` attribution maps, and reads do the
    per-COLUMN last-present-writer merge. Checked against the
    sequential oracle AND the CoW MINIMAL path across batches, through
    compaction, and with mixed FULL/MINIMAL deltas on one table."""
    from bingo2sql_spark.sources.synth import generate_events

    ev = generate_events(spark, n_keys=150, versions_per_key=8, n_repos=15,
                         seed=9, minimal_image=True)
    pdf = ev.select("seq", "op", "before", "after", "changed_cols").toPandas()
    expected = oracle.state_checksum(oracle.sequential_apply(pdf))
    cut = int(pdf["seq"].max()) // 2
    mor = IcebergLiteTable(str(tmp_path / "mm"), n_buckets=8, write_mode="mor")
    replay(ev.filter(f"seq <= {cut}"), mor, batch_id="b1", row_image="MINIMAL")
    assert mor.latest_manifest()["partial_state"] is True
    replay(ev.filter(f"seq > {cut}"), mor, batch_id="b2", row_image="MINIMAL")
    assert mor.state_checksum(spark) == expected
    # column-wise survival across delta layers (lang written before the
    # cut must survive a later content-only delta)
    cow = IcebergLiteTable(str(tmp_path / "mc"), n_buckets=8)
    replay(ev.filter(f"seq <= {cut}"), cow, batch_id="b1", row_image="MINIMAL")
    replay(ev.filter(f"seq > {cut}"), cow, batch_id="b2", row_image="MINIMAL")
    assert mor.state_checksum(spark) == cow.state_checksum(spark)
    mor_rows = {(r["repo"], r["path"]): r["lang"] for r in mor.read(spark).collect()}
    cow_rows = {(r["repo"], r["path"]): r["lang"] for r in cow.read(spark).collect()}
    assert mor_rows == cow_rows
    # compaction folds partial deltas into new bases that keep their
    # `_col_seqs` attributions, so the per-column read mode stays on
    mor.compact(spark, drop_tombstones=False)
    man = mor.latest_manifest()
    assert man["deltas"] == {} and man["partial_state"] is True
    assert mor.state_checksum(spark) == expected
    # a FULL-image delta and a later MINIMAL delta layered on top of
    # the compacted base still merge correctly (mixed delta kinds in
    # one manifest)
    ev2 = generate_events(spark, n_keys=150, versions_per_key=8, n_repos=15,
                          seed=9)  # same stream, FULL images
    tail = ev2.filter(f"seq > {cut}")
    replay(tail, mor, batch_id="b3")  # FULL re-upsert, idempotent by LWW
    replay(ev.filter(f"seq > {cut}"), mor, batch_id="b4", row_image="MINIMAL")
    assert mor.latest_manifest()["partial_state"] is True
    assert mor.state_checksum(spark) == expected


def test_cow_commit_over_minimal_mor_deltas(spark, tmp_path):
    """A merge-on-read table holding MINIMAL-image deltas, reopened
    copy-on-write, takes a FULL-image batch: the stored rows it merges
    against carry per-column seq attributions (`_col_seqs`), so the
    merge runs per column and the new base keeps them."""
    from bingo2sql_spark.sources.synth import generate_events

    ev = generate_events(spark, n_keys=100, versions_per_key=6, n_repos=10,
                         seed=9, minimal_image=True)
    pdf = ev.select("seq", "op", "before", "after", "changed_cols").toPandas()
    expected = oracle.state_checksum(oracle.sequential_apply(pdf))
    cut = int(pdf["seq"].max()) // 2
    path = str(tmp_path / "t")
    mor = IcebergLiteTable(path, n_buckets=8, write_mode="mor")
    replay(ev.filter(f"seq <= {cut}"), mor, batch_id="b1", row_image="MINIMAL")
    full = generate_events(spark, n_keys=100, versions_per_key=6, n_repos=10, seed=9)
    cow = IcebergLiteTable(path, n_buckets=8)
    replay(full.filter(f"seq > {cut}"), cow, batch_id="b2")
    assert cow.latest_manifest()["partial_state"] is True
    assert cow.state_checksum(spark) == expected


def test_mor_inline_auto_compaction(spark, small_events, tmp_path):
    """max_delta_depth bounds read amplification: a commit onto a table
    whose deepest bucket already holds max_delta_depth deltas folds them
    in its own merge — every delta and the batch land in fresh bases,
    state unchanged."""
    t = IcebergLiteTable(
        str(tmp_path / "ac"), n_buckets=8, write_mode="mor", max_delta_depth=2
    )
    parts = [small_events.filter(f"seq % 3 = {i}") for i in range(3)]
    m0 = replay(parts[0], t, batch_id="a0")
    m1 = replay(parts[1], t, batch_id="a1")
    assert "compacted_to" not in m0 and "compacted_to" not in m1
    m2 = replay(parts[2], t, batch_id="a2")  # depth 2 at the bound -> folds
    assert m2["compacted_to"] == m2["snapshot"] and m2["delta_depth"] == 0
    man = t.latest_manifest()
    assert man["deltas"] == {} and man["buckets"]
    # state equals an uncompacted cow replay of the same batches
    ref = IcebergLiteTable(str(tmp_path / "ac_ref"), n_buckets=8)
    for i, p in enumerate(parts):
        replay(p, ref, batch_id=f"r{i}")
    assert t.state_checksum(spark) == ref.state_checksum(spark)
    # the auto-compaction snapshot does not break exactly-once
    assert replay(parts[2], t, batch_id="a2")["skipped"]


def test_mor_read_amplification_auto_compaction(spark, small_events, tmp_path):
    """VERDICT r4 #5: the inline policy keyed on MEASURED read cost.
    Two LARGE deltas (each roughly the base's size) push delta-rows /
    base-rows past 1.3 at depth 3 — a read-heavy shape a depth-only
    policy (max_delta_depth=10) would never compact. The fold lands on
    the commit AFTER the one that crosses the threshold (the decision
    reads the parent manifest's footer-stat row counts at commit
    start, as the depth fold does), the trigger is recorded, and state
    matches an in-order cow replay."""
    t = IcebergLiteTable(
        str(tmp_path / "ra"), n_buckets=8, write_mode="mor",
        max_delta_depth=10, max_read_amplification=1.3,
    )
    cuts = ("seq < 800", "seq >= 800 and seq < 1200", "seq >= 1200")
    # first delta plays the base role; then two ~half-size replays stack
    m0 = replay(small_events.filter(cuts[0]), t, batch_id="b0")
    assert "compacted_to" not in m0 and m0["read_amplification"] == 0
    m1 = replay(small_events.filter(cuts[1]), t, batch_id="b1")
    m2 = replay(small_events.filter(cuts[2]), t, batch_id="b2")
    assert m1["read_amplification"] <= 1.3 < m2["read_amplification"], (m1, m2)
    assert not any(m.get("compacted_to") for m in (m0, m1, m2))
    assert m2["delta_depth"] == 3  # depth never near 10
    # the next commit (an idempotent re-delivery under a new id) folds
    m3 = replay(small_events.filter(cuts[2]), t, batch_id="b3")
    assert m3["compacted_to"] == m3["snapshot"], m3
    assert m3["compaction_trigger"] == "read_amplification"
    assert m3["delta_depth"] == 0 and m3["read_amplification"] == 0
    man = t.latest_manifest()
    # bucket_rows bookkeeping: a fold resets every bucket's delta rows
    assert man["deltas"] == {} and all(v["delta"] == 0 for v in man["bucket_rows"].values())
    ref = IcebergLiteTable(str(tmp_path / "ra_ref"), n_buckets=8)
    for i, cut in enumerate(cuts):
        replay(small_events.filter(cut), ref, batch_id=f"r{i}")
    assert t.state_checksum(spark) == ref.state_checksum(spark)


def test_read_keys_point_lookup_prunes_buckets(spark, small_events, tmp_path):
    """read_keys returns exactly the live rows of the requested keys and
    reads ONLY their owning buckets (at 32 buckets a 3-key lookup scans
    <= 3 bucket dirs — the Iceberg bucket-transform point-read)."""
    import re

    t = IcebergLiteTable(str(tmp_path / "t"), n_buckets=32)
    replay(small_events, t, batch_id="load")
    live = t.read(spark).select("repo", "path", "commit").collect()
    want = [(r["repo"], r["path"]) for r in live[:3]]
    got = t.read_keys(spark, want + [("no-such-repo", "no/such/path")])
    rows = got.collect()
    assert {(r["repo"], r["path"]) for r in rows} == set(want)
    # values match the full read
    full = {(r["repo"], r["path"]): r["commit"] for r in live}
    assert all(full[(r["repo"], r["path"])] == r["commit"] for r in rows)
    # scan pruned to the owning buckets only
    touched = {
        re.search(r"pbucket=(\d+)", f).group(1)
        for f in got.inputFiles()
        if "pbucket=" in f
    }
    assert 1 <= len(touched) <= 4  # 3 keys + 1 miss -> at most 4 buckets
    # empty key list reads nothing
    assert t.read_keys(spark, []).count() == 0


@pytest.mark.parametrize("write_mode", ["cow", "mor"])
def test_read_keys_literal_quoting_and_typing(spark, small_events, tmp_path, write_mode):
    """read_keys builds its probe keys as SQL literals: paths holding a
    quote, a backslash, a newline and non-ASCII text must round-trip; a
    duplicated key returns its row once; an int component matches its
    stored string form; a None component matches nothing. Checked
    against read() filtered to the same keys, on a CoW table and on a
    MOR table with stored deltas."""
    from pyspark.sql import functions as F

    # rewrite every path src/<d>/f<k>.txt by k % 5: a digit string,
    # or the path with a quote, a backslash, a newline or non-ASCII
    k = F.regexp_extract(F.col("after.path"), r"f(\d+)\.txt", 1)
    kb = F.regexp_extract(F.col("before.path"), r"f(\d+)\.txt", 1)

    def odd(path, k):
        return (
            F.when(k.cast("int") % 5 == 0, k)
            .when(k.cast("int") % 5 == 1, F.concat(path, F.lit("'q")))
            .when(k.cast("int") % 5 == 2, F.concat(path, F.lit("\\b")))
            .when(k.cast("int") % 5 == 3, F.concat(path, F.lit("\n")))
            .otherwise(F.concat(path, F.lit("-ünï路径")))
        )

    ev = small_events.withColumn(
        "after", F.col("after").withField("path", odd(F.col("after.path"), k))
    ).withColumn(
        "before", F.col("before").withField("path", odd(F.col("before.path"), kb))
    )
    t = IcebergLiteTable(
        str(tmp_path / write_mode), n_buckets=8, write_mode=write_mode,
        max_delta_depth=4,
    )
    replay(ev.filter("seq < 800"), t, batch_id="b1")
    m = replay(ev.filter("seq >= 800"), t, batch_id="b2")
    if write_mode == "mor":
        assert m["delta_depth"] >= 1, m
    live = {(r["repo"], r["path"]): r for r in t.read(spark).collect()}
    picked = {}
    for repo, path in sorted(live):
        cls = (
            "digits" if path.isdigit() else "'" if "'" in path
            else "\\" if "\\" in path else "\n" if "\n" in path
            else "ascii" if path.isascii() else "non-ascii"
        )
        picked.setdefault(cls, (repo, path))
    assert set(picked) == {"digits", "'", "\\", "\n", "non-ascii"}, picked
    repo_d, path_d = picked["digits"]
    keys = [picked[c] for c in ("'", "\\", "\n", "non-ascii")]
    probe = keys + [keys[0], (repo_d, int(path_d)), (None, keys[1][1]), (keys[2][0], None)]
    got = sorted(tuple(r) for r in t.read_keys(spark, probe).collect())
    want = sorted(tuple(live[k]) for k in keys + [(repo_d, path_d)])
    assert got == want


def test_read_keys_prunes_minimal_mor_deltas(spark, tmp_path):
    """Bucket-pruned reads of a merge-on-read table holding MINIMAL-image
    deltas over a FULL base: read_keys and read(buckets=...) equal the
    full read filtered to the same keys or bucket, and the CoW table fed
    the same batches. The deltas cover only buckets 0-3, so buckets 4-7
    hold a base alone and are scanned under `partial_state` with no
    delta to merge."""
    from bingo2sql_spark.operators import resolve as R
    from bingo2sql_spark.operators.apply import bucket_col
    from bingo2sql_spark.sources.synth import generate_events

    full_ev = generate_events(spark, n_keys=150, versions_per_key=8, n_repos=15, seed=9)
    min_ev = generate_events(spark, n_keys=150, versions_per_key=8, n_repos=15,
                             seed=9, minimal_image=True)
    cut = 500
    tail = (
        R.with_key(min_ev.filter(f"seq > {cut}"))
        .filter(bucket_col(8) < 4)
        .drop("repo", "path")
    )
    mor = IcebergLiteTable(str(tmp_path / "mor"), n_buckets=8, write_mode="mor")
    cow = IcebergLiteTable(str(tmp_path / "cow"), n_buckets=8)
    for t in (mor, cow):
        replay(full_ev.filter(f"seq <= {cut}"), t, batch_id="base")
    mor.compact(spark, drop_tombstones=False)
    for t in (mor, cow):
        replay(tail, t, batch_id="tail", row_image="MINIMAL")
    man = mor.latest_manifest()
    assert man["partial_state"] is True
    assert sorted(man["deltas"], key=int) == ["0", "1", "2", "3"], man["deltas"]
    assert sorted(man["buckets"], key=int) == [str(b) for b in range(8)]

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    full = mor.read(spark)
    assert rows(full) == rows(cow.read(spark))
    for b in range(8):
        want = rows(full.filter(f"bucket = {b}"))
        assert want, b
        assert rows(mor.read(spark, buckets=[b])) == want, b
        assert rows(cow.read(spark, buckets=[b])) == want, b
    live = sorted((r["repo"], r["path"], r["bucket"]) for r in full.collect())
    keys = [next((k, p) for k, p, bk in live if bk == b) for b in (0, 3, 4, 7)]
    want = rows(full.join(spark.createDataFrame(keys, ["repo", "path"]), ["repo", "path"]))
    got = mor.read_keys(spark, keys)
    assert rows(got.select(*full.columns)) == want and len(want) == 4
    assert rows(cow.read_keys(spark, keys).select(*full.columns)) == want


def test_minimal_update_keeps_stored_column_the_batch_lacks(spark, tmp_path):
    """A MINIMAL batch projected without a column the table stores (an
    earlier batch added it) does not carry that column on its updates:
    the stored value survives, on CoW, MOR and a fold, while a full
    image (an insert) NULL-fills it."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from bingo2sql_spark import schema as S
    from bingo2sql_spark.operators import resolve as R

    def env(rows):
        data = [
            (seq, "bin.1", seq, None, None, datetime(2024, 1, 1), 1, "test",
             "repo_files", op, None,
             {"repo": "r", "path": path, "commit": None, "lang": lang,
              "content": None, "branch": None},
             changed, 2)
            for seq, op, path, lang, changed in rows
        ]
        return R.with_key(spark.createDataFrame(data, S.ENVELOPE))

    first = R.to_upsert_rows(
        env([(1, "insert", "a", "py", None), (2, "insert", "b", "py", None)])
    ).withColumn("extra", F.lit("kept"))
    second = R.to_upsert_rows(
        env([(3, "update", "a", "go", ["lang"]), (4, "insert", "b", "go", None)]),
        minimal=True,
    )
    for mode, depth in (("cow", None), ("mor", None), ("mor", 1)):
        t = IcebergLiteTable(str(tmp_path / f"{mode}_{depth}"), n_buckets=4,
                             write_mode=mode, max_delta_depth=depth)
        t.commit(first, "b1")
        t.commit(second, "b2")
        got = {r["path"]: (r["lang"], r["extra"]) for r in t.read(spark).collect()}
        assert got == {"a": ("go", "kept"), "b": ("go", None)}, (mode, depth, got)


def test_flashback_replay_no_extra_scan(spark, small_events, tmp_path):
    """The flashback rebase must not add a pass over the source: the
    batch-max pre-pass (old pipeline agg(max(seq)).collect()) now rides
    the commit's pruning pre-pass, so a flashback replay runs no more
    Spark jobs than a forward replay against the same populated table
    (VERDICT r3 #4) — and still rolls the table back fully."""
    sc = spark.sparkContext
    t = IcebergLiteTable(str(tmp_path / "t"), n_buckets=8)
    replay(small_events, t, batch_id="load")

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    n_fwd = jobs("fwd-jobs", lambda: replay(small_events, t, batch_id="fwd2"))
    n_fb = jobs(
        "fb-jobs", lambda: replay(small_events, t, batch_id="fb", flashback=True)
    )
    assert n_fb <= n_fwd, (n_fb, n_fwd)
    assert t.read(spark).count() == 0  # rollback actually drained it


def test_mor_auto_compaction_preserves_tombstones(spark, small_events, tmp_path):
    """ADVICE r3 (high): INLINE auto-compaction must NOT drop tombstone
    rows. Out-of-order ad-hoc replay is supported (commit b3 before b2),
    so a tombstone dropped by the automatic path would let a LATER commit
    of an OLDER batch resurrect a deleted key — the delete marker that
    wins LWW is gone. state_checksum ignores tombstones, so this test
    checks the final state against an in-order reference replay instead.
    """
    t = IcebergLiteTable(
        str(tmp_path / "tp"), n_buckets=8, write_mode="mor", max_delta_depth=1
    )
    late = small_events.filter("seq >= 800")  # contains final DELETEs
    early = small_events.filter("seq < 800")  # older upserts for those keys
    ms = [
        replay(late.filter(f"seq % 3 = {i}"), t, batch_id=f"late{i}")
        for i in range(3)
    ]
    assert any(m.get("compacted_to") for m in ms)  # inline compaction fired
    # tombstones physically survived the automatic compaction
    raw = t._read_raw(spark)
    assert raw.filter("_deleted").count() > 0
    # the older batch arrives AFTER compaction; deleted keys must not rise
    replay(early, t, batch_id="early")
    ref = IcebergLiteTable(str(tmp_path / "tp_ref"), n_buckets=8)
    replay(small_events, ref, batch_id="all")
    assert t.read(spark).count() == ref.read(spark).count()
    assert t.state_checksum(spark) == ref.state_checksum(spark)
    # explicit user-invoked GC still drops tombstones when asked
    t.compact(spark, drop_tombstones=True)
    assert t._read_raw(spark).filter("_deleted").count() == 0
    assert t.state_checksum(spark) == ref.state_checksum(spark)


def test_changelog_bucket_pruning_and_payload_only(spark, small_events, tmp_path):
    """changes_between prunes the scan to buckets whose manifest entry
    changed (VERDICT r2 #7: an incremental v->v+1 diff must not read the
    whole table twice) and diffs PAYLOAD columns only: a byte-identical
    re-upsert is not an 'update' and _ingest_seq never leaks into the
    before/after images (ADVICE r2)."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from bingo2sql_spark import schema as S

    t = IcebergLiteTable(str(tmp_path / "cp"), n_buckets=8)
    replay(small_events, t, batch_id="p1")
    v1 = t.latest_manifest()["version"]
    rows = t.read(spark).orderBy("repo", "path").limit(2).collect()
    a, bb = rows[0], rows[1]
    head = t.head_seq()

    def ev(seq, row, content):
        img = (row["repo"], row["path"], row["commit"], row["lang"], content, row["branch"])
        return (
            seq, "bin.9", seq, "u", seq, datetime(2024, 6, 1), 1,
            "test", "repo_files", "update",
            (row["repo"], row["path"], row["commit"], row["lang"], row["content"], row["branch"]),
            img, None, 1,
        )

    batch = spark.createDataFrame(
        [ev(head + 1, a, a["content"]),  # byte-identical re-upsert
         ev(head + 2, bb, bb["content"] + "!CHANGED")],
        S.envelope_schema(),
    )
    replay(batch, t, batch_id="p2")
    v2 = t.latest_manifest()["version"]

    ch = t.changes_between(spark, v1, v2)
    # images are payload-only: no internal lineage columns
    img_fields = [f.name for f in ch.schema["before"].dataType.fields]
    assert "_ingest_seq" not in img_fields
    got = {(r["repo"], r["path"]): r for r in ch.collect()}
    assert (a["repo"], a["path"]) not in got  # identical re-upsert: no change
    keyb = (bb["repo"], bb["path"])
    assert got[keyb]["op"] == "update"
    assert got[keyb]["after"]["content"].endswith("!CHANGED")
    # manifest-level pruning: only the touched buckets' files are read
    from bingo2sql_spark.operators.apply import bucket_col

    touched = {
        r["b"]
        for r in spark.createDataFrame(
            [(a["repo"], a["path"]), (bb["repo"], bb["path"])], ["repo", "path"]
        ).select(bucket_col(8).alias("b")).collect()
    }
    for f in ch.inputFiles():
        assert any(f"pbucket={b}/" in f or f"pbucket={b}%2F" in f or f"pbucket={b}" in f
                   for b in touched), f
    mf = t.manifest_at(v1)["buckets"]
    mt = t.manifest_at(v2)["buckets"]
    unchanged = [b for b in mf if mf[b] == mt.get(b)]
    for f in ch.inputFiles():
        assert not any(f"pbucket={b}/" in f for b in unchanged)


def test_rollback_to_snapshot(spark, small_events, tmp_path):
    """Metadata-only rollback: restores an older snapshot's state AND
    its batch bookkeeping (the undone batch can re-commit), while the
    rolled-over snapshot stays time-travel-readable."""
    t = IcebergLiteTable(str(tmp_path / "rb"), n_buckets=8)
    v1 = replay(small_events.filter("seq < 800"), t, batch_id="p1")["snapshot"]
    state_v1 = t.state_checksum(spark)
    v2 = replay(small_events.filter("seq >= 800"), t, batch_id="p2")["snapshot"]
    state_v2 = t.state_checksum(spark)

    m = t.rollback_to(v1)
    assert t.state_checksum(spark) == state_v1
    assert t.latest_manifest()["rolled_back_to"] == v1
    # v2 still readable via time travel
    assert t.read(spark, version=v2).count() == len(state_v2)
    # the undone batch id is no longer "committed" -> replays cleanly
    r = replay(small_events.filter("seq >= 800"), t, batch_id="p2")
    assert not r["skipped"]
    assert t.state_checksum(spark) == state_v2
    # unknown target -> clear error
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.rollback_to(999)


def test_concurrent_commit_detected(spark, small_events, tmp_path):
    """Two writers racing to the same snapshot version: the loser gets
    ConcurrentCommitError instead of silently overwriting the winner's
    manifest (optimistic concurrency, Iceberg catalog-swap analog)."""
    import pytest as _pytest

    from bingo2sql_spark.operators.apply import ConcurrentCommitError

    t = IcebergLiteTable(str(tmp_path / "cc"), n_buckets=8)
    replay(small_events.filter("seq < 400"), t, batch_id="a")
    # simulate a concurrent winner claiming the next version
    winner = dict(t.latest_manifest())
    winner["version"] += 1
    t._write_manifest(winner)
    # a second writer computed against the stale manifest -> same target
    with _pytest.raises(ConcurrentCommitError):
        t._write_manifest(dict(winner))
    # table remains readable and consistent
    assert t.read(spark).count() > 0


def test_rebucket_full_rewrite(spark, small_events, tmp_path):
    """rebucket copies state INCLUDING tombstones and per-row lineage
    into a table with a different bucket count: live state and head seq
    match, and a re-delivered OLD batch still cannot resurrect deleted
    keys (LWW seqs carried over; the exactly-once ledger is fresh by
    design, so the old batch APPLIES but loses LWW)."""
    src = IcebergLiteTable(str(tmp_path / "src"), n_buckets=8)
    replay(small_events, src, batch_id="load")
    dst = src.rebucket(spark, str(tmp_path / "dst"), n_buckets=32)
    assert dst.n_buckets == 32 and dst.latest_manifest()["n_buckets"] == 32
    assert dst.state_checksum(spark) == src.state_checksum(spark)
    assert dst.head_seq() == src.head_seq()
    # tombstones survived the rewrite
    assert dst._read_raw(spark).filter("_deleted").count() > 0
    # an old batch re-delivered to the NEW table: applied (fresh
    # ledger), but LWW-by-carried-seq keeps the state identical
    old = small_events.filter("seq < 400")
    m = replay(old, dst, batch_id="load")  # same id as src's — new ledger
    assert not m["skipped"]
    assert dst.state_checksum(spark) == src.state_checksum(spark)


def test_concurrent_commit_retry_converges(spark, small_events, tmp_path, monkeypatch):
    """commit_with_retry: when a rival writer wins the manifest CAS
    between this commit's manifest read and its write, the retry
    re-reads and re-merges — the final state equals the full in-order
    replay and the rival's snapshot stays intact. The race is injected
    deterministically: the first manifest write for the contested
    version lands a rival manifest first."""
    from bingo2sql_spark.operators import apply as A
    from bingo2sql_spark.operators import resolve as R

    t = IcebergLiteTable(str(tmp_path / "ccr"), n_buckets=8)
    replay(small_events.filter("seq < 800"), t, batch_id="b1")
    base = dict(t.latest_manifest())
    orig = A.IcebergLiteTable._write_manifest
    fired = {"rival": False}

    def raced(self, doc):
        if not fired["rival"] and doc.get("version") == base["version"] + 1:
            fired["rival"] = True
            orig(self, {**base, "version": base["version"] + 1})  # rival lands first
        return orig(self, doc)

    monkeypatch.setattr(A.IcebergLiteTable, "_write_manifest", raced)
    b2 = R.to_upsert_rows(R.with_key(small_events.filter("seq >= 800")))
    m = t.commit_with_retry(b2, "b2")
    assert fired["rival"] and not m["skipped"]
    assert m["snapshot"] == base["version"] + 2  # landed after the rival
    monkeypatch.undo()
    ref = IcebergLiteTable(str(tmp_path / "ccr_ref"), n_buckets=8)
    replay(small_events, ref, batch_id="all")
    assert t.state_checksum(spark) == ref.state_checksum(spark)
    # retrying the same batch id now dedups (bookkeeping survived)
    assert t.commit_with_retry(b2, "b2")["skipped"]


def test_n_buckets_mismatch_is_loud(spark, small_events, tmp_path):
    """Reopening a table with a different n_buckets would bucket new
    rows differently than stored ones — the same key would occupy TWO
    (bucket, key) merge groups, i.e. silent per-key duplicates. The
    manifest pins the bucket count; a mismatched commit raises."""
    import pytest

    p = str(tmp_path / "nb")
    t8 = IcebergLiteTable(p, n_buckets=8)
    replay(small_events.filter("seq < 500"), t8, batch_id="a")
    t16 = IcebergLiteTable(p, n_buckets=16)
    with pytest.raises(ValueError, match="n_buckets=8"):
        replay(small_events.filter("seq >= 500"), t16, batch_id="b")
    # same bucket count reopens fine
    t8b = IcebergLiteTable(p, n_buckets=8)
    assert not replay(small_events.filter("seq >= 500"), t8b, batch_id="b")["skipped"]


def test_expire_snapshots_keeps_mor_deltas_live(spark, small_events, tmp_path):
    """expire_snapshots must treat delta versions as live data (they are
    referenced by the deltas map, not the buckets map): aggressive
    expiry on a MOR table leaves the current state readable."""
    t = IcebergLiteTable(str(tmp_path / "exp"), n_buckets=8, write_mode="mor")
    parts = [small_events.filter(f"seq % 3 = {i}") for i in range(3)]
    for i, p in enumerate(parts):
        replay(p, t, batch_id=f"e{i}")
    state = t.state_checksum(spark)
    removed = t.expire_snapshots(keep_last=1)
    assert t.state_checksum(spark) == state, removed
    # after compaction the old delta snapshots become expirable
    t.compact(spark)
    t.expire_snapshots(keep_last=1)
    assert t.state_checksum(spark) == state


def test_rollback_across_mor_compaction(spark, small_events, tmp_path):
    """rollback_to a pre-compaction (delta-bearing) snapshot restores
    both the state and the delta bookkeeping; committing after the
    rollback layers correctly on the restored manifest."""
    t = IcebergLiteTable(str(tmp_path / "rbm"), n_buckets=8, write_mode="mor")
    parts = [small_events.filter(f"seq % 3 = {i}") for i in range(3)]
    replay(parts[0], t, batch_id="r0")
    replay(parts[1], t, batch_id="r1")
    v_deltas = t.latest_manifest()["version"]
    state_two = t.state_checksum(spark)
    replay(parts[2], t, batch_id="r2")
    t.compact(spark)
    assert t.latest_manifest()["deltas"] == {}

    t.rollback_to(v_deltas)
    m = t.latest_manifest()
    assert m["deltas"], "rollback must restore the delta map"
    assert t.state_checksum(spark) == state_two
    # the undone batch can re-commit and converges to the full state
    full = IcebergLiteTable(str(tmp_path / "rbm_ref"), n_buckets=8)
    for i, p in enumerate(parts):
        replay(p, full, batch_id=f"f{i}")
    assert not replay(parts[2], t, batch_id="r2")["skipped"]
    assert t.state_checksum(spark) == full.state_checksum(spark)


@pytest.mark.parametrize("seed,cut_mod", [(21, 3), (77, 4)])
def test_write_mode_row_image_matrix_converges(spark, tmp_path, seed, cut_mod):
    """The full config matrix — {cow, mor} x {FULL, MINIMAL} — over the
    same randomized stream, split into interleaved batches, converges
    to ONE sequential-oracle state (LWW order-independence holds in
    every storage/image combination; MOR additionally through
    compaction, and at max_delta_depth=1 through folds over MINIMAL
    deltas whose base keeps the `_col_seqs` attributions)."""
    import os

    from pyspark.sql import functions as F

    from bingo2sql_spark.sources.synth import generate_events

    full_ev = generate_events(spark, n_keys=120, versions_per_key=8, n_repos=12,
                              seed=seed)
    min_ev = generate_events(spark, n_keys=120, versions_per_key=8, n_repos=12,
                             seed=seed, minimal_image=True)
    pdf = min_ev.select("seq", "op", "before", "after", "changed_cols").toPandas()
    expected = oracle.state_checksum(oracle.sequential_apply(pdf))
    configs = [
        ("cow", "FULL", full_ev, None), ("cow", "MINIMAL", min_ev, None),
        ("mor", "FULL", full_ev, None), ("mor", "MINIMAL", min_ev, None),
        ("mor", "MINIMAL", min_ev, 1),
    ]
    for mode, image, ev, depth in configs:
        t = IcebergLiteTable(
            str(tmp_path / f"{mode}_{image}_{depth}_{seed}"), n_buckets=8,
            write_mode=mode, max_delta_depth=depth,
        )
        # interleaved (non-contiguous) batch split: stresses cross-batch
        # per-column merges and MOR delta stacking
        for i in range(cut_mod):
            replay(ev.filter(f"seq % {cut_mod} = {i}"), t, batch_id=f"p{i}",
                   row_image=image)
        assert t.state_checksum(spark) == expected, (mode, image, depth)
        if depth is not None:
            # p1 (and p3) folded a MINIMAL delta; the folded base keeps
            # the sparse per-column attribution maps
            folded = t.manifest_at(2)
            assert folded["metrics"]["compacted_to"] == 2, folded["metrics"]
            assert t.manifest_at(1)["partial_state"] and t.manifest_at(1)["deltas"]
            assert folded["partial_state"] and folded["deltas"] == {}
            base = spark.read.parquet(
                os.path.join(t.path, "data", folded["snap_dirs"]["2"])
            )
            assert base.filter(F.size("_col_seqs") > 0).count() > 0
        if mode == "mor":
            t.compact(spark, drop_tombstones=False)
            assert t.state_checksum(spark) == expected, (mode, image, "compacted")


def test_mor_partial_delta_union_metadata_hand_values(spark, tmp_path):
    """Hand-computed per-column winners through MOR partial deltas: two
    partial updates of ONE key inside one batch merge into a single
    delta row whose `_col_seqs` marks only the columns neither carried
    as never-written;
    an out-of-order OLDER full insert then fills only the columns no
    partial writer ever supplied. Exact values, not checksums."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from bingo2sql_spark import schema as S

    img_t = ("struct<repo:string,path:string,commit:string,lang:string,"
             "content:string,branch:string>")

    def env_row(seq, op, after, changed):
        return (seq, "bin.1", 4 + seq, "u", seq, datetime(2024, 1, 1), 1,
                "test", "repo_files", op, None, after, changed, 2)

    # batch A (newer seqs): two PARTIAL updates of the same key
    a = spark.createDataFrame(
        [
            env_row(10, "update", ("r", "p", None, "go", None, None), ["lang"]),
            env_row(11, "update", ("r", "p", None, None, "body-v11", None), ["content"]),
        ],
        S.envelope_schema(),
    )
    # batch B (older seq): the original FULL insert
    b = spark.createDataFrame(
        [env_row(1, "insert", ("r", "p", "c001", "py", "body-v1", "main"), None)],
        S.envelope_schema(),
    )
    t = IcebergLiteTable(str(tmp_path / "u"), n_buckets=4, write_mode="mor")
    replay(a, t, batch_id="A", row_image="MINIMAL")
    # the single delta row carries the UNION of the partial writers: the
    # row winner (seq 11) wrote content, seq 10 wrote lang, nobody wrote
    # commit or branch
    raw = spark.read.parquet(
        *[str(p) for p in (tmp_path / "u" / "data").glob("snap-*/pbucket=*")]
    )
    assert raw.count() == 1
    delta_row = raw.collect()[0]
    assert delta_row["_ingest_seq"] == 11
    assert delta_row["_col_seqs"] == {"commit": None, "branch": None, "lang": 10}
    # older full insert commits AFTER: fills only never-written columns
    replay(b, t, batch_id="B", row_image="MINIMAL")
    row = t.read(spark).collect()
    assert len(row) == 1
    r = row[0]
    assert (r["commit"], r["lang"], r["content"], r["branch"]) == (
        "c001",      # only the insert wrote it
        "go",        # partial writer seq 10 beats insert seq 1
        "body-v11",  # partial writer seq 11 beats insert seq 1
        "main",      # only the insert wrote it
    )
    # compaction folds to the same values
    t.compact(spark, drop_tombstones=False)
    r2 = t.read(spark).collect()[0]
    assert (r2["commit"], r2["lang"], r2["content"], r2["branch"]) == (
        "c001", "go", "body-v11", "main"
    )


def test_incremental_minhash_matches_full_recompute(spark, small_events, tmp_path):
    """update_minhash_signatures over changes_between == full
    minhash_signature_keyed over the final state — insert, update and
    delete changelog rows all maintained correctly (VERDICT r4 #9)."""
    from bingo2sql_spark.operators import dedup as DD

    t = IcebergLiteTable(str(tmp_path / "sig"), n_buckets=8)
    m1 = replay(small_events.filter("seq < 1000"), t, batch_id="s1")
    m2 = replay(small_events.filter("seq >= 1000"), t, batch_id="s2")
    keys = ["repo", "path"]
    sigs1 = DD.minhash_signature_keyed(
        t.read(spark, version=m1["snapshot"]), keys, text_col="content", k=4
    )
    ch = t.changes_between(spark, m1["snapshot"], m2["snapshot"])
    assert ch.filter("op = 'delete'").count() > 0  # delete path exercised
    incr = DD.update_minhash_signatures(sigs1, ch, keys, text_col="content", k=4)
    full = DD.minhash_signature_keyed(t.read(spark), keys, text_col="content", k=4)
    cols = keys + [f"mh{i}" for i in range(4)]
    a = {tuple(r) for r in incr.select(*cols).collect()}
    b = {tuple(r) for r in full.select(*cols).collect()}
    assert a == b and a


def test_minimal_out_of_order_cross_commit_column_race(spark, tmp_path):
    """The full fix for ADVICE r4: per-column seq ATTRIBUTION survives
    the collapse, so an out-of-order ad-hoc MINIMAL replay whose seq
    interleaves an already-committed range wins/loses each column
    against that column's TRUE writer — not against an unrelated newer
    contributor's row seq. Scenario (the ADVICE example): commit 1
    carries seq1:[lang] and seq10:[content]; an ad-hoc replay then
    brings seq5:[lang] — lang's stored writer is seq1, so seq5 MUST
    win lang (the old collapse stamped lang with row-seq 10 and seq5
    lost). Checked in COW, MOR and MOR folding at max_delta_depth=1
    (b2 folds b1's MINIMAL delta), plus through a compaction."""
    import pyspark.sql.functions as F

    from bingo2sql_spark.operators import resolve as R

    def minimal_batch(rows):
        # rows: (seq, op, changed list or None, payload dict)
        data = []
        for seq, op, changed, p in rows:
            img = {
                "repo": "r1", "path": "f1",
                "commit": p.get("commit"), "lang": p.get("lang"),
                "content": p.get("content"), "branch": None,
            }
            data.append(
                (seq, "bin.1", seq, None, None,
                 __import__("datetime").datetime(2024, 1, 1),
                 1, "test", "repo_files", op,
                 None if op == "insert" else {"repo": "r1", "path": "f1",
                                              "commit": None, "lang": None,
                                              "content": None, "branch": None},
                 None if op == "delete" else img,
                 changed, 2)
            )
        from bingo2sql_spark import schema as S

        env = spark.createDataFrame(data, S.ENVELOPE)
        return R.to_upsert_rows(R.with_key(env), minimal=True)

    for mode, depth in (("cow", None), ("mor", None), ("mor", 1)):
        t = IcebergLiteTable(str(tmp_path / f"oo_{mode}_{depth}"), n_buckets=4,
                             write_mode=mode, max_delta_depth=depth)
        t.commit(minimal_batch([
            (0, "insert", None,
             {"commit": "c0", "lang": "en", "content": "v0"}),
            (1, "update", ["lang"], {"lang": "fr"}),
            (10, "update", ["content"], {"content": "v10"}),
        ]), batch_id="b1")
        # ad-hoc out-of-order replay: seq 5 rewrites lang only
        m2 = t.commit(minimal_batch([
            (5, "update", ["lang"], {"lang": "de"}),
        ]), batch_id="b2")
        assert ("compacted_to" in m2) == (depth is not None), (mode, m2)
        row = t.read(spark).collect()[0]
        assert row["lang"] == "de", (mode, row)          # 5 beats lang's writer 1
        assert row["content"] == "v10", (mode, row)       # 10 still owns content
        assert row["commit"] == "c0", (mode, row)         # insert's value persists
        # and a LOSING out-of-order replay stays lost: seq 3 < 5
        t.commit(minimal_batch([
            (3, "update", ["lang"], {"lang": "xx"}),
        ]), batch_id="b3")
        row = t.read(spark).collect()[0]
        assert row["lang"] == "de", (mode, row)
        # attribution survives compaction
        t.compact(spark, drop_tombstones=False)
        t.commit(minimal_batch([
            (4, "update", ["lang"], {"lang": "yy"}),   # still < 5: loses
            (11, "update", ["content"], {"content": "v11"}),
        ]), batch_id="b4")
        row = t.read(spark).collect()[0]
        assert row["lang"] == "de" and row["content"] == "v11", (mode, row)


@pytest.mark.parametrize("family", ["simhash", "embedding"])
def test_incremental_signatures_match_full_recompute(spark, small_events, tmp_path, family):
    """VERDICT r5 #2: the SimHash and embedding families' incremental
    changelog maintenance == full recompute over the final state —
    same contract the MinHash gate pins, via the shared
    _update_keyed_signatures core (delete/insert/update all covered)."""
    from bingo2sql_spark.operators import dedup as DD

    t = IcebergLiteTable(str(tmp_path / f"sig_{family}"), n_buckets=8)
    m1 = replay(small_events.filter("seq < 1000"), t, batch_id="s1")
    m2 = replay(small_events.filter("seq >= 1000"), t, batch_id="s2")
    keys = ["repo", "path"]
    ch = t.changes_between(spark, m1["snapshot"], m2["snapshot"])
    assert ch.filter("op = 'delete'").count() > 0
    v1 = t.read(spark, version=m1["snapshot"])
    fin = t.read(spark)
    if family == "simhash":
        sigs1 = DD.simhash_signature_keyed(v1, keys, text_col="content", n_bits=16)
        incr = DD.update_simhash_signatures(sigs1, ch, keys, text_col="content", n_bits=16)
        full = DD.simhash_signature_keyed(fin, keys, text_col="content", n_bits=16)
        cols = keys + ["simhash"]
        a = {tuple(r) for r in incr.select(*cols).collect()}
        b = {tuple(r) for r in full.select(*cols).collect()}
    else:
        sigs1 = DD.embedding_signature_keyed(v1, keys, text_col="content", dim=8)
        incr = DD.update_embedding_signatures(sigs1, ch, keys, text_col="content", dim=8)
        full = DD.embedding_signature_keyed(fin, keys, text_col="content", dim=8)
        a = {(r["repo"], r["path"], tuple(r["embedding"])) for r in incr.collect()}
        b = {(r["repo"], r["path"], tuple(r["embedding"])) for r in full.collect()}
    assert a == b and a


@pytest.mark.parametrize("family", ["simhash", "embedding"])
def test_signature_store_families_lockstep(spark, small_events, tmp_path, family):
    """SignatureStore generalized beyond MinHash: bootstrap +
    incremental refresh both land, final stored signatures == full
    recompute for the family, snapshot retention keeps the prior
    version for in-flight readers until expire()."""
    import os

    from bingo2sql_spark.operators import dedup as DD

    t = IcebergLiteTable(str(tmp_path / f"st_{family}"), n_buckets=8)
    store = DD.SignatureStore(
        str(tmp_path / f"store_{family}"), ["repo", "path"],
        family=family, n_bits=16, dim=8,
    )
    replay(small_events.filter("seq < 1000"), t, batch_id="b1")
    assert store.refresh(spark, t)["mode"] == "bootstrap"
    replay(small_events.filter("seq >= 1000"), t, batch_id="b2")
    r = store.refresh(spark, t)
    assert r["mode"] == "incremental"
    # ADVICE r5: the superseded snapshot is RETAINED for concurrent
    # readers; expire() reclaims it explicitly
    snaps = sorted(d for d in os.listdir(store.path) if d.startswith("snap-"))
    assert len(snaps) == 2
    removed = store.expire(keep=1)
    assert removed == snaps[:1]
    assert sorted(
        d for d in os.listdir(store.path) if d.startswith("snap-")
    ) == snaps[1:]
    got = store.read(spark)
    full = store._sign_full(t.read(spark))
    if family == "simhash":
        a = {tuple(r) for r in got.select("repo", "path", "simhash").collect()}
        b = {tuple(r) for r in full.select("repo", "path", "simhash").collect()}
    else:
        a = {(r["repo"], r["path"], tuple(r["embedding"])) for r in got.collect()}
        b = {(r["repo"], r["path"], tuple(r["embedding"])) for r in full.collect()}
    assert a == b and a


def test_ddl_driven_schema_evolution_end_to_end(spark, tmp_path):
    """VERDICT r5 #4: an ALTER TABLE carried by the stream's own
    op='ddl' events evolves the target table without operator
    intervention. ADD COLUMN takes effect at the ALTER's seq — rows
    last written before it read NULL (backfill), a wire value RACING
    the DDL (branch bytes on a pre-ALTER event) is masked; a later
    DROP COLUMN removes the column from the current schema while time
    travel still shows it."""
    import datetime

    from pyspark.sql import types as T

    from bingo2sql_spark import ddl as DL
    from bingo2sql_spark import schema as S

    ddl_schema = T.StructType(
        list(S.ENVELOPE.fields) + [T.StructField("statement", T.StringType())]
    )

    def img(key, commit, content, branch=None):
        return {"repo": "r1", "path": key, "commit": commit, "lang": "go",
                "content": content, "branch": branch}

    def row(seq, op, key, commit=None, content=None, branch=None, stmt=None):
        after = None if op in ("delete", "ddl") else img(key, commit, content, branch)
        before = None if op in ("insert", "ddl") else img(key, "c0", "x")
        return (seq, "bin.1", seq, None, None, datetime.datetime(2024, 1, 1),
                1, "test", "repo_files", op, before, after, None, 2, stmt)

    meta = DL.parse_schema_text(
        "CREATE TABLE test.repo_files (repo varchar(64), path varchar(255), "
        "commit varchar(40), lang varchar(16), content text, "
        "PRIMARY KEY (repo, path))"
    )["test.repo_files"]

    events1 = spark.createDataFrame([
        row(1, "insert", "f1", "c1", "one"),
        # STRAY wire value racing the DDL: branch set BEFORE the ALTER
        row(2, "insert", "f2", "c2", "two", branch="stray"),
        row(3, "insert", "f3", "c3", "three"),
        row(100, "ddl", None,
            stmt="ALTER TABLE `test`.`repo_files` ADD COLUMN `branch` varchar(255)"),
        row(101, "update", "f1", "c4", "one-v2", branch="main"),
    ], ddl_schema)

    t = IcebergLiteTable(str(tmp_path / "evo"), n_buckets=4)
    m1 = replay(events1, t, batch_id="e1", table_meta=meta)
    got = {r["path"]: (r["content"], r["branch"])
           for r in t.read(spark).select("path", "content", "branch").collect()}
    assert got == {
        "f1": ("one-v2", "main"),   # written after the ALTER
        "f2": ("two", None),        # stray pre-ALTER wire value masked
        "f3": ("three", None),      # NULL backfill
    }

    # second batch: DROP COLUMN branch mid-stream; later writes lack it
    evolved = DL.apply_alter(meta, [("add", DL._parse_column("`branch` varchar(255)"))])
    events2 = spark.createDataFrame([
        row(200, "update", "f3", "c5", "three-v2", branch="dev"),
        row(300, "ddl", None,
            stmt="ALTER TABLE test.repo_files DROP COLUMN branch"),
        row(301, "update", "f2", "c6", "two-v2"),
    ], ddl_schema)
    m2 = replay(events2, t, batch_id="e2", table_meta=evolved)
    cur = t.read(spark)
    assert "branch" not in cur.columns  # dropped from the current schema
    vals = {r["path"]: r["content"] for r in cur.collect()}
    assert vals == {"f1": "one-v2", "f2": "two-v2", "f3": "three-v2"}
    # time travel to the pre-drop snapshot still shows the column
    old = t.read(spark, version=m1["snapshot"])
    assert "branch" in old.columns
    # exactly-once unaffected
    assert replay(events2, t, batch_id="e2", table_meta=evolved)["skipped"]


def test_inline_compaction_races_concurrent_delta_commit(spark, small_events, events_pdf, tmp_path, monkeypatch):
    """VERDICT r5 #6: an inline fold racing a concurrent MOR delta
    commit. Injected deterministically both ways:

    (a) a read-amplification FOLD loses its manifest CAS to a RIVAL
        delta that lands between the fold's data write and its CAS —
        the fold raises with nothing of it referenced, and
        commit_with_retry re-reads and re-folds over the rival's delta;
    (b) a depth FOLD (max_delta_depth=0: every commit folds) lands
        first and the rival loses — retry re-reads the folded manifest
        and re-merges.

    Both end states equal the sequential oracle and tombstones survive
    every fold (no delta loss, no resurrection window)."""
    from bingo2sql_spark import oracle
    from bingo2sql_spark.operators import apply as A
    from bingo2sql_spark.operators import resolve as R

    cut = int(events_pdf["seq"].max()) // 2
    rival_batch = R.to_upsert_rows(R.with_key(small_events.filter(f"seq >= {cut}")))
    expected = oracle.state_checksum(oracle.sequential_apply(events_pdf))

    # ---- (a) rival delta lands between a read-amplification fold's
    # data write and its manifest CAS
    p = str(tmp_path / "race_a")
    t = IcebergLiteTable(p, n_buckets=8, write_mode="mor", max_read_amplification=0.01)
    # the first delta plays the base role; b1's delta over it crosses
    # the amplification threshold, so the next commit folds
    third = cut // 3
    replay(small_events.filter(f"seq < {third}"), t, batch_id="b0")
    m1 = replay(small_events.filter(f"seq >= {third} and seq < {2 * third}"), t, batch_id="b1")
    assert m1["read_amplification"] > 0.01 and "compacted_to" not in m1, m1
    batch = R.to_upsert_rows(R.with_key(small_events.filter(f"seq >= {2 * third} and seq < {cut}")))
    orig = A.IcebergLiteTable._write_manifest
    state = {"armed": True}

    def raced(self, doc):
        if state["armed"] and doc["metrics"].get("compaction_trigger") == "read_amplification":
            state["armed"] = False  # re-entrancy: the rival commit below
            rival = IcebergLiteTable(p, n_buckets=8, write_mode="mor")
            rival.commit(rival_batch, batch_id="rival")  # lands the version first
        return orig(self, doc)

    monkeypatch.setattr(A.IcebergLiteTable, "_write_manifest", raced)
    with pytest.raises(A.ConcurrentCommitError):
        t.commit(batch, "b2")
    monkeypatch.undo()
    m = t.latest_manifest()
    assert m["metrics"]["batch_id"] == "rival" and any(m["deltas"].values()), m["metrics"]
    # the retry re-reads the rival's manifest and re-folds everything
    mr = t.commit_with_retry(batch, "b2")
    assert mr["compacted_to"] == mr["snapshot"], mr
    assert mr["compaction_trigger"] == "read_amplification"
    assert t.latest_manifest()["deltas"] == {}
    assert t.state_checksum(spark) == expected
    raw = t._read_raw(spark)
    assert raw.filter("_deleted").count() > 0  # tombstones survived the fold

    # ---- (b) a fold wins, rival loses the CAS and retries
    p2 = str(tmp_path / "race_b")
    t2 = IcebergLiteTable(p2, n_buckets=8, write_mode="mor", max_delta_depth=0)
    replay(small_events.filter(f"seq < {cut}"), t2, batch_id="b1")  # folds
    state2 = {"armed": True}

    def raced2(self, doc):
        if state2["armed"] and doc.get("metrics", {}).get("op") != "compact":
            state2["armed"] = False
            other = IcebergLiteTable(p2, n_buckets=8, write_mode="mor",
                                     max_delta_depth=0)
            other.commit(rival_batch.limit(0), batch_id="compactor")  # folds
        return orig(self, doc)

    monkeypatch.setattr(A.IcebergLiteTable, "_write_manifest", raced2)
    mr = t2.commit_with_retry(rival_batch, "b2")
    monkeypatch.undo()
    assert not mr["skipped"] and not state2["armed"]
    assert t2.state_checksum(spark) == expected
    assert t2._read_raw(spark).filter("_deleted").count() > 0


def test_depth_fold_races_rival_commit(spark, small_events, events_pdf, tmp_path, monkeypatch):
    """A MOR commit at max_delta_depth folds the deltas in its own merge,
    so the fold commits with ONE manifest CAS. A rival delta commit
    landing between the fold's data write and that CAS makes the fold
    raise ConcurrentCommitError with nothing of it referenced (the
    rival's delta is the table), and commit_with_retry re-reads and
    re-folds over the rival's delta: the state equals the sequential
    oracle and tombstones survive the fold."""
    from bingo2sql_spark.operators import apply as A
    from bingo2sql_spark.operators import resolve as R

    cut = int(events_pdf["seq"].max()) // 2

    def up(cond):
        return R.to_upsert_rows(R.with_key(small_events.filter(cond)))

    p = str(tmp_path / "fold_race")
    t = IcebergLiteTable(p, n_buckets=8, write_mode="mor", max_delta_depth=1)
    replay(small_events.filter(f"seq < {cut // 2}"), t, batch_id="b0")  # at the bound
    batch = up(f"seq >= {cut // 2} and seq < {cut}")
    orig = A.IcebergLiteTable._write_manifest
    rivals = []

    def raced(self, doc):
        if rivals and doc["metrics"].get("compacted_to"):
            rival = IcebergLiteTable(p, n_buckets=8, write_mode="mor")
            rival.commit(up(f"seq >= {cut}"), batch_id=rivals.pop())  # takes the version
        return orig(self, doc)

    monkeypatch.setattr(A.IcebergLiteTable, "_write_manifest", raced)
    rivals.append("rival")
    with pytest.raises(A.ConcurrentCommitError):
        t.commit(batch, "b1")
    m = t.latest_manifest()
    assert m["metrics"]["batch_id"] == "rival" and any(m["deltas"].values()), m["metrics"]
    lost = events_pdf[(events_pdf["seq"] < cut // 2) | (events_pdf["seq"] >= cut)]
    assert t.state_checksum(spark) == oracle.state_checksum(oracle.sequential_apply(lost))
    # the retry loses once more to a second rival, then folds both
    rivals.append("rival2")
    mr = t.commit_with_retry(batch, "b1")
    monkeypatch.undo()
    assert not rivals and mr["compacted_to"] == mr["snapshot"], mr
    assert t.latest_manifest()["deltas"] == {}
    assert t.state_checksum(spark) == oracle.state_checksum(oracle.sequential_apply(events_pdf))
    assert t._read_raw(spark).filter("_deleted").count() > 0


def test_snap_dirs_hold_only_referenced_snapshots(spark, small_events, tmp_path):
    """The manifest's version -> data dir map holds exactly the
    snapshots its bucket map and delta lists reference, so it does not
    grow by one entry per commit. Older manifests keep their own maps:
    time travel to an early version still reads, and expire_snapshots
    removes exactly the dirs no retained manifest references."""
    import os

    from bingo2sql_spark.operators.apply import DATA_DIR

    t = IcebergLiteTable(
        str(tmp_path / "sd"), n_buckets=8, write_mode="mor", max_delta_depth=2
    )
    for i in range(10):
        replay(small_events.filter(f"seq % 10 = {i}"), t, batch_id=f"s{i}")
    assert any(t.manifest_at(v)["metrics"].get("compacted_to") for v in t.versions())

    def referenced(doc):
        return set(doc["buckets"].values()).union(*doc["deltas"].values())

    m = t.latest_manifest()
    assert {int(v) for v in m["snap_dirs"]} == referenced(m), sorted(m["snap_dirs"])
    ref = IcebergLiteTable(str(tmp_path / "sd_ref"), n_buckets=8)
    replay(small_events.filter("seq % 10 = 0"), ref, batch_id="r0")
    cols = ["repo", "path", "content"]
    assert sorted(t.read(spark, version=1).select(cols).collect()) == sorted(
        ref.read(spark).select(cols).collect()
    )
    state = t.state_checksum(spark)
    data = os.path.join(t.path, DATA_DIR)
    before = set(os.listdir(data))
    live = {
        doc["snap_dirs"][str(v)]
        for doc in map(t.manifest_at, t.versions()[-2:])
        for v in referenced(doc)
    }
    out = t.expire_snapshots(keep_last=2)
    assert set(os.listdir(data)) == live and out["removed"] == len(before - live)
    assert t.state_checksum(spark) == state


def test_mor_lineage_keeps_head_across_out_of_order_delta(spark, tmp_path):
    """A MOR delta holds only its own batch, so an out-of-order OLDER
    batch's delta must not lower its buckets' recorded max seq:
    head_seq() stays the stored maximum `_ingest_seq`, and a flashback
    rebased past that head wins last-writer-wins against the newer
    stored rows — the MOR state equals the CoW state."""
    from pyspark.sql import functions as F

    from bingo2sql_spark.sources.synth import generate_events

    ev = generate_events(spark, n_keys=100, versions_per_key=6, seed=3).cache()
    cut = int(ev.agg(F.max("seq")).collect()[0][0]) // 2
    newer, older = ev.filter(f"seq > {cut}"), ev.filter(f"seq <= {cut}")
    cow = IcebergLiteTable(str(tmp_path / "cow"), n_buckets=4)
    mor = IcebergLiteTable(str(tmp_path / "mor"), n_buckets=4, write_mode="mor")
    for t in (cow, mor):
        replay(newer, t, batch_id="newer")
        replay(older, t, batch_id="older")
        stored = t._read_raw(spark).agg(F.max("_ingest_seq")).collect()[0][0]
        assert t.head_seq() == stored, (t.write_mode, t.head_seq(), stored)
        replay(newer, t, batch_id="fb", flashback=True)
    assert mor.state_checksum(spark) == cow.state_checksum(spark)
    ev.unpersist()


def test_fold_and_compact_write_equal_manifests(spark, small_events, tmp_path):
    """A commit that folds and compact() write the compaction-shaped
    manifest through one code path: over the same stored state, an
    empty-batch fold and compact(drop_tombstones=False) produce equal
    bucket maps, delta lists, row counts, aliases, the partial_state flag,
    lineage and referenced data dirs (up to each attempt's unique dir
    suffix), and equal state."""
    from bingo2sql_spark.operators import resolve as R

    parts = [small_events.filter(f"seq % 2 = {i}") for i in range(2)]
    fold = IcebergLiteTable(
        str(tmp_path / "fold"), n_buckets=8, write_mode="mor", max_delta_depth=2
    )
    comp = IcebergLiteTable(str(tmp_path / "comp"), n_buckets=8, write_mode="mor")
    for t in (fold, comp):
        for i, p in enumerate(parts):
            replay(p, t, batch_id=f"p{i}")
    empty = R.to_upsert_rows(R.with_key(small_events)).limit(0)
    mf = fold.commit(empty, "nudge")
    mc = comp.compact(spark, drop_tombstones=False)
    assert mf["compaction_trigger"] == "delta_depth" and mf["snapshot"] == mc["snapshot"]
    a, b = fold.latest_manifest(), comp.latest_manifest()
    for key in ("buckets", "deltas", "bucket_rows", "aliases", "partial_state",
                "lineage", "columns"):
        assert a[key] == b[key], (key, a[key], b[key])

    def dirs(m):
        return {v: d.rsplit("-", 1)[0] for v, d in m["snap_dirs"].items()}

    assert dirs(a) == dirs(b) and a["snap_dirs"] and a["deltas"] == {}
    assert mc["op"] == "compact" and mc["compacted_to"] == mc["snapshot"], mc
    # compact() records no batch; the fold records its own
    assert b["committed_batches"] == ["p0", "p1"]
    assert a["committed_batches"] == ["p0", "p1", "nudge"]
    assert fold.state_checksum(spark) == comp.state_checksum(spark)


def test_dense_col_seqs_snapshot_decodes_like_sparse(spark, tmp_path):
    """Back-compat for the r6 sparse exceptions-only `_col_seqs`
    encoding: snapshots written by the older DENSE encoding (a map
    entry for every data column, row-winner seqs materialized
    redundantly) must decode to the same per-column winners, so no
    stored table needs rewriting on upgrade. Simulated by densifying a
    freshly-committed sparse snapshot in place (absent key -> row seq;
    NULL never-written markers kept), then merging a second MINIMAL
    batch into both tables."""
    import os
    import shutil

    import pyspark.sql.functions as F

    import bingo2sql_spark.schema as S
    from bingo2sql_spark.operators import apply as A
    from bingo2sql_spark.sources.synth import generate_events

    mev = generate_events(spark, n_keys=200, versions_per_key=6, n_repos=20,
                          seed=11, minimal_image=True).persist()
    b1 = mev.filter("seq % 2 = 0")
    b2 = mev.filter("seq % 2 = 1")

    ts = IcebergLiteTable(str(tmp_path / "sparse"), n_buckets=8)
    td = IcebergLiteTable(str(tmp_path / "dense"), n_buckets=8)
    for t in (ts, td):
        replay(b1, t, batch_id="b1", tables=["repo_files"], row_image="MINIMAL")

    # densify td's stored snapshot in place (the pre-r6 on-disk shape)
    m = td.latest_manifest()
    data_cols = [c for c in m["columns"] if c not in S.MERGE_KEYS]
    snap_dirs = m.get("snap_dirs", {})
    densified = 0
    for b, v in m["buckets"].items():
        name = snap_dirs.get(str(v), f"snap-{int(v):012d}")
        p = os.path.join(td.path, A.DATA_DIR, name, f"pbucket={b}")
        df = spark.read.parquet(p)
        dense = F.map_from_arrays(
            F.array(*[F.lit(c) for c in data_cols]),
            F.array(*[
                F.when(F.map_contains_key(F.col("_col_seqs"), F.lit(c)),
                       F.col("_col_seqs").getItem(c))
                .otherwise(F.col("_ingest_seq"))
                for c in data_cols
            ]),
        )
        out = df.withColumn(
            "_col_seqs", F.when(F.col("_col_seqs").isNotNull(), dense)
        )
        tmp = p + ".densify"
        out.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(p)
        os.rename(tmp, p)
        densified += 1
    assert densified > 0
    # the densified table must already read back the same resolved
    # state — compare raw rows (incl. seq + tombstones), maps excluded
    payload = [*S.MERGE_KEYS, *data_cols, "_ingest_seq", "_deleted"]
    assert td._read_raw(spark).select(payload).exceptAll(
        ts._read_raw(spark).select(payload)).count() == 0

    # a second out-of-order MINIMAL batch must merge identically on top
    # of either encoding (per-column winners, not row winners)
    for t in (ts, td):
        replay(b2, t, batch_id="b2", tables=["repo_files"], row_image="MINIMAL")
    a = ts._read_raw(spark).select(payload)
    b = td._read_raw(spark).select(payload)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # and both equal the in-order oracle replay
    to = IcebergLiteTable(str(tmp_path / "oracle"), n_buckets=8)
    replay(mev, to, batch_id="all", tables=["repo_files"], row_image="MINIMAL")
    o = to._read_raw(spark).select(payload)
    assert a.exceptAll(o).count() == 0 and o.exceptAll(a).count() == 0
    mev.unpersist()


def _evo_schema():
    """Envelope + statement, with a wire payload that carries BOTH the
    pre- and post-rename spellings (producers race DDL in real streams)."""
    import pyspark.sql.types as T

    payload = T.StructType([
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("language", T.StringType()),
        T.StructField("content", T.StringType()),
    ])
    return T.StructType([
        T.StructField("seq", T.LongType()),
        T.StructField("log_file", T.StringType()),
        T.StructField("log_pos", T.LongType()),
        T.StructField("gtid_uuid", T.StringType()),
        T.StructField("gno", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("thread_id", T.LongType()),
        T.StructField("db", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("before", payload),
        T.StructField("after", payload),
        T.StructField("changed_cols", T.ArrayType(T.StringType())),
        T.StructField("schema_ver", T.IntegerType()),
        T.StructField("statement", T.StringType()),
    ])


def _evo_row(seq, op, key, commit=None, lang=None, language=None, content=None,
             changed=None, stmt=None):
    import datetime

    after = None if op in ("delete", "ddl") else {
        "repo": "r1", "path": key, "commit": commit, "lang": lang,
        "language": language, "content": content,
    }
    before = None if op in ("insert", "ddl") else {
        "repo": "r1", "path": key, "commit": "c0", "lang": "x",
        "language": None, "content": "x",
    }
    return (seq, "bin.1", seq, None, None, datetime.datetime(2024, 1, 1), 1,
            "test", "repo_files", op, before, after, changed, 1, stmt)


def _evo_meta():
    from bingo2sql_spark import ddl as DL

    return DL.parse_schema_text(
        "CREATE TABLE test.repo_files (repo varchar(64), path varchar(255), "
        "commit varchar(40), lang varchar(16), content text, "
        "PRIMARY KEY (repo, path))"
    )["test.repo_files"]


def test_change_column_rename_end_to_end(spark, tmp_path):
    """VERDICT r6 #2: a mid-stream CHANGE lang language rename replays
    to the same final state as an oracle applying the rename — stored
    values carry to the new name WITHOUT rewriting untouched buckets
    (manifest aliases; asserted below), wire values switch source field
    at the ALTER's seq, and time travel still shows the old name."""
    from bingo2sql_spark import ddl as DL

    meta = _evo_meta()
    keys = [f"f{i}" for i in range(8)]
    events1 = spark.createDataFrame(
        [_evo_row(i + 1, "insert", k, commit=f"c{i}", lang=f"L{i}", content=f"v{i}")
         for i, k in enumerate(keys)],
        _evo_schema(),
    )
    t = IcebergLiteTable(str(tmp_path / "ren"), n_buckets=4)
    m1 = replay(events1, t, batch_id="r1", table_meta=meta)

    events2 = spark.createDataFrame([
        # pre-rename wire update: carries the OLD spelling
        _evo_row(50, "update", "f0", commit="c50", lang="pre", content="v0b"),
        _evo_row(100, "ddl", None,
                 stmt="ALTER TABLE `test`.`repo_files` CHANGE COLUMN `lang` "
                      "`language` varchar(64)"),
        # post-rename wire update: carries the NEW spelling only
        _evo_row(101, "update", "f1", commit="c51", language="post", content="v1b"),
    ], _evo_schema())
    m2 = replay(events2, t, batch_id="r2", table_meta=meta)
    assert m2["buckets_rewritten"] < t.n_buckets  # untouched buckets remain

    cur = t.read(spark)
    assert "language" in cur.columns and "lang" not in cur.columns
    got = {r["path"]: (r["language"], r["content"]) for r in cur.collect()}
    # oracle: dict replay with the rename applied at seq 100
    expect = {k: (f"L{i}", f"v{i}") for i, k in enumerate(keys)}
    expect["f0"] = ("pre", "v0b")    # old-spelling bytes before the ALTER
    expect["f1"] = ("post", "v1b")   # new-spelling bytes after it
    assert got == expect  # f2..f7 carried via alias coalesce, no rewrite

    # time travel to the pre-rename snapshot keeps the old name
    old = t.read(spark, version=m1["snapshot"])
    assert "lang" in old.columns and "language" not in old.columns
    assert {r["path"]: r["lang"] for r in old.collect()} == {
        k: f"L{i}" for i, k in enumerate(keys)
    }
    # exactly-once unaffected
    assert replay(events2, t, batch_id="r2", table_meta=meta)["skipped"]

    # rename-aware registry agrees with the replay's end schema
    evolved = DL.apply_alter(
        meta, DL.parse_alter_table(
            "ALTER TABLE test.repo_files CHANGE lang language varchar(64)")[2])
    assert set(c.name for c in evolved.columns) == set(cur.columns) - {"bucket"}


def test_change_column_rename_first_batch_fresh_table(spark, tmp_path):
    """A CHANGE COLUMN in the very FIRST batch (fresh table, nothing
    stored yet) must not fail: there are no stored values to carry, so
    no alias is recorded and the batch's own projection writes the new
    name. Pre-ALTER wire bytes still arrive under the old spelling and
    land in the renamed column via the wire-name timeline."""
    meta = _evo_meta()
    t = IcebergLiteTable(str(tmp_path / "renfresh"), n_buckets=4)
    events = spark.createDataFrame([
        _evo_row(1, "insert", "f0", commit="c1", lang="old-wire", content="v0"),
        _evo_row(100, "ddl", None,
                 stmt="ALTER TABLE test.repo_files CHANGE lang language varchar(64)"),
        _evo_row(101, "insert", "f1", commit="c2", language="new-wire",
                 content="v1"),
    ], _evo_schema())
    replay(events, t, batch_id="b1", table_meta=meta)
    cur = t.read(spark)
    assert "language" in cur.columns and "lang" not in cur.columns
    assert {r["path"]: r["language"] for r in cur.collect()} == {
        "f0": "old-wire", "f1": "new-wire",
    }
    assert t.latest_manifest()["aliases"] == {}  # nothing stored to carry


def test_change_column_rename_mor_read_path(spark, tmp_path):
    """Rename over a MERGE-ON-READ table: the commit appends a delta
    under the NEW name while base files keep the old; the read-time
    alias coalesce reconciles both without any rewrite."""
    meta = _evo_meta()
    t = IcebergLiteTable(str(tmp_path / "renmor"), n_buckets=4, write_mode="mor")
    events1 = spark.createDataFrame(
        [_evo_row(i + 1, "insert", f"f{i}", commit=f"c{i}", lang=f"L{i}",
                  content=f"v{i}") for i in range(6)],
        _evo_schema(),
    )
    replay(events1, t, batch_id="m1", table_meta=meta)
    events2 = spark.createDataFrame([
        _evo_row(100, "ddl", None,
                 stmt="ALTER TABLE test.repo_files CHANGE lang language varchar(64)"),
        _evo_row(101, "update", "f0", commit="c9", language="post", content="v0b"),
    ], _evo_schema())
    replay(events2, t, batch_id="m2", table_meta=meta)
    got = {r["path"]: r["language"] for r in t.read(spark).collect()}
    assert got == {"f0": "post", **{f"f{i}": f"L{i}" for i in range(1, 6)}}
    # compaction folds everything under current names and clears aliases
    t.compact(spark)
    assert t.latest_manifest()["aliases"] == {}
    got2 = {r["path"]: r["language"] for r in t.read(spark).collect()}
    assert got2 == got


def test_rename_loud_failures_and_resurrection_guard(spark, tmp_path):
    """Lossy MODIFY in the stream is loud; re-ADDing a renamed-away
    name is refused until compact() rewrites the old spellings away."""
    import pytest as _p

    meta = _evo_meta()
    t = IcebergLiteTable(str(tmp_path / "renfail"), n_buckets=4)
    events1 = spark.createDataFrame(
        [_evo_row(i + 1, "insert", f"f{i}", commit=f"c{i}", lang=f"L{i}",
                  content=f"v{i}") for i in range(4)],
        _evo_schema(),
    )
    replay(events1, t, batch_id="b1", table_meta=meta)

    lossy = spark.createDataFrame([
        _evo_row(10, "ddl", None,
                 stmt="ALTER TABLE test.repo_files MODIFY lang varchar(4)"),
    ], _evo_schema())
    with _p.raises(ValueError, match="lossy"):
        replay(lossy, t, batch_id="b2", table_meta=meta)

    ren = spark.createDataFrame([
        _evo_row(20, "ddl", None,
                 stmt="ALTER TABLE test.repo_files CHANGE lang language varchar(64)"),
    ], _evo_schema())
    replay(ren, t, batch_id="b3", table_meta=meta)

    from bingo2sql_spark import ddl as DL
    evolved = DL.apply_alter(meta, DL.parse_alter_table(
        "ALTER TABLE test.repo_files CHANGE lang language varchar(64)")[2])
    readd = spark.createDataFrame([
        _evo_row(30, "ddl", None,
                 stmt="ALTER TABLE test.repo_files ADD COLUMN lang varchar(16)"),
        # FULL row image: the server logs every column, including the
        # renamed one's current value
        _evo_row(31, "update", "f0", commit="c9", lang="new-lang",
                 language="L0", content="v0b"),
    ], _evo_schema())
    with _p.raises(ValueError, match="compact"):
        replay(readd, t, batch_id="b4", table_meta=evolved)
    t.compact(spark)  # rewrites every bucket under current names
    replay(readd, t, batch_id="b4", table_meta=evolved)
    row = {r["path"]: (r["language"], r["lang"]) for r in t.read(spark).collect()}
    assert row["f0"] == ("L0", "new-lang")   # carried + fresh column
    assert row["f1"] == ("L1", None)         # re-added column NULL elsewhere


def test_minimal_image_add_column_evolution(spark, tmp_path):
    """VERDICT r6 #3: MINIMAL row images compose with DDL-driven
    evolution. A mid-stream ADD COLUMN joins the per-column merge at
    the ALTER's seq: pre-ALTER partial updates can neither write the
    value nor claim presence (racing producers masked), and the final
    state matches the per-column last-value-IGNORE-NULLS oracle."""
    meta = _evo_meta()
    t = IcebergLiteTable(str(tmp_path / "minevo"), n_buckets=4)
    events1 = spark.createDataFrame([
        _evo_row(1, "insert", "f1", commit="c1", lang="go", content="one"),
        _evo_row(2, "insert", "f2", commit="c2", lang="py", content="two"),
        # stray pre-ALTER partial update claiming the future column
        _evo_row(50, "update", "f1", commit="c3", language="stray",
                 changed=["language", "commit"]),
        _evo_row(100, "ddl", None,
                 stmt="ALTER TABLE test.repo_files ADD COLUMN language varchar(64)"),
        _evo_row(101, "update", "f1", commit="c4", language="main",
                 changed=["language", "commit"]),
        _evo_row(102, "update", "f2", commit="c5", content="two-v2",
                 changed=["content", "commit"]),
    ], _evo_schema())
    replay(events1, t, batch_id="p1", table_meta=meta, row_image="MINIMAL")
    got = {r["path"]: (r["commit"], r["lang"], r["language"], r["content"])
           for r in t.read(spark).collect()}
    # per-column last-value-IGNORE-NULLS, `language` fed only at seq>=100
    assert got == {
        "f1": ("c4", "go", "main", "one"),      # content survives partials
        "f2": ("c5", "py", None, "two-v2"),     # added column NULL-backfills
    }

def test_minimal_image_rename_evolution(spark, tmp_path):
    """MINIMAL x CHANGE COLUMN: partial images' presence entries
    translate through the renamed column's wire-name timeline — a
    pre-rename partial update listing the OLD name and a post-rename
    one listing the NEW name both land on the final column, stored
    values carry through the manifest alias, and untouched columns
    survive the partials (per-column last-value-IGNORE-NULLS)."""
    meta = _evo_meta()
    t = IcebergLiteTable(str(tmp_path / "minren"), n_buckets=4)
    events1 = spark.createDataFrame([
        _evo_row(1, "insert", "f1", commit="c1", lang="go", content="one"),
        _evo_row(2, "insert", "f2", commit="c2", lang="py", content="two"),
        _evo_row(3, "insert", "f3", commit="c3", lang="rs", content="three"),
    ], _evo_schema())
    replay(events1, t, batch_id="q1", table_meta=meta, row_image="MINIMAL")
    events2 = spark.createDataFrame([
        # pre-rename partial update: presence under the OLD name
        _evo_row(50, "update", "f1", commit="c4", lang="c",
                 changed=["lang", "commit"]),
        _evo_row(100, "ddl", None,
                 stmt="ALTER TABLE test.repo_files CHANGE lang language varchar(64)"),
        # post-rename partial update: presence under the NEW name
        _evo_row(101, "update", "f2", commit="c5", language="java",
                 changed=["language", "commit"]),
    ], _evo_schema())
    evolved = replay(events2, t, batch_id="q2", table_meta=meta,
                     row_image="MINIMAL")
    assert not evolved["skipped"]
    got = {r["path"]: (r["commit"], r["language"], r["content"])
           for r in t.read(spark).collect()}
    assert got == {
        "f1": ("c4", "c", "one"),      # old-name presence translated
        "f2": ("c5", "java", "two"),   # new-name presence direct
        "f3": ("c3", "rs", "three"),   # untouched: alias carries stored value
    }


@pytest.mark.parametrize("family", ["minhash", "simhash", "embedding"])
def test_signature_store_probe_cache(spark, small_events, tmp_path, family):
    """VERDICT r6 #4: the band/SRP probe table is built ONCE per store
    version and persisted beside the snapshot — the hot serving path
    reads the parquet (proved by poisoning the builder), refresh()
    invalidates by construction, expire() reclaims probe dirs."""
    import os

    from bingo2sql_spark.operators import dedup as DD

    t = IcebergLiteTable(str(tmp_path / f"pt_{family}"), n_buckets=8)
    store = DD.SignatureStore(
        str(tmp_path / f"pstore_{family}"), ["repo", "path"],
        family=family, n_bits=16, dim=8, k=8, bands=4, n_planes=4,
    )
    replay(small_events.filter("seq < 1000"), t, batch_id="b1")
    store.refresh(spark, t)

    first = store.probes(spark)
    assert set(first.columns) == {"repo", "path", "band", "probe"}
    n_sigs = store.read(spark).count()
    assert first.count() == 4 * n_sigs  # one probe per band per key
    # probe values equal a fresh projection of the signature table
    rebuilt = store._build_probes(store.read(spark))
    assert {tuple(r) for r in first.collect()} == {tuple(r) for r in rebuilt.collect()}

    # cache hit: poison the builder — the second call must NOT rebuild
    real_build = store._build_probes
    def boom(_):
        raise AssertionError("probe table rebuilt on the hot path")
    store._build_probes = boom
    again = store.probes(spark)
    assert again.count() == 4 * n_sigs

    # refresh to a new version invalidates: probes() builds fresh
    replay(small_events.filter("seq >= 1000"), t, batch_id="b2")
    assert store.refresh(spark, t)["mode"] == "incremental"
    with pytest.raises(AssertionError, match="rebuilt"):
        store.probes(spark)
    store._build_probes = real_build
    fresh = store.probes(spark)
    assert {tuple(r) for r in fresh.collect()} == {
        tuple(r) for r in store._build_probes(store.read(spark)).collect()
    }

    # expire reclaims the superseded snapshot's probe dir with it
    removed = store.expire(keep=1)
    for d in removed:
        assert not os.path.isdir(
            os.path.join(store.path, d.replace("snap-", "probes-"))
        )
    assert any(p.startswith("probes-") for p in os.listdir(store.path))


def test_changes_between_spans_rename_commit(spark, tmp_path):
    """ADVICE r7: changes_between across a CHANGE COLUMN commit must
    translate the old side through the to-version's alias map — the old
    snapshot still stores the pre-rename spelling, and without the
    translation old.select(struct(*data)) raises AnalysisException. A
    value-carrying rename alone is NOT an update (same payload after
    alignment); the one real DML change is."""
    meta = _evo_meta()
    t = IcebergLiteTable(str(tmp_path / "cbren"), n_buckets=4)
    events1 = spark.createDataFrame(
        [_evo_row(i + 1, "insert", f"f{i}", commit=f"c{i}", lang=f"L{i}",
                  content=f"v{i}") for i in range(6)],
        _evo_schema(),
    )
    replay(events1, t, batch_id="b1", table_meta=meta)
    v1 = t.latest_manifest()["version"]
    events2 = spark.createDataFrame([
        _evo_row(100, "ddl", None,
                 stmt="ALTER TABLE test.repo_files CHANGE lang language varchar(64)"),
        _evo_row(101, "update", "f0", commit="c9", language="post", content="v0b"),
    ], _evo_schema())
    replay(events2, t, batch_id="b2", table_meta=meta)
    v2 = t.latest_manifest()["version"]
    ch = t.changes_between(spark, v1, v2).collect()
    assert {(r["repo"], r["path"], r["op"]) for r in ch} == {("r1", "f0", "update")}
    row = ch[0]
    # old side serves the pre-rename value UNDER THE NEW NAME
    assert row["before"]["language"] == "L0" and row["after"]["language"] == "post"
    assert row["before"]["content"] == "v0" and row["after"]["content"] == "v0b"


def test_signature_refresh_spans_rename_commit(spark, tmp_path):
    """The incremental signature path consumes changes_between; a
    rename commit inside the refresh window must not break it, and the
    incremental result must equal a full recompute (ADVICE r7)."""
    from bingo2sql_spark.operators.dedup import SignatureStore

    meta = _evo_meta()
    t = IcebergLiteTable(str(tmp_path / "sigren"), n_buckets=4)
    events1 = spark.createDataFrame(
        [_evo_row(i + 1, "insert", f"f{i}", commit=f"c{i}", lang=f"L{i}",
                  content=f"doc {i} alpha beta gamma") for i in range(6)],
        _evo_schema(),
    )
    replay(events1, t, batch_id="b1", table_meta=meta)
    store = SignatureStore(str(tmp_path / "sigren_store"), ["repo", "path"], k=4)
    assert store.refresh(spark, t)["mode"] == "bootstrap"
    events2 = spark.createDataFrame([
        _evo_row(100, "ddl", None,
                 stmt="ALTER TABLE test.repo_files CHANGE lang language varchar(64)"),
        _evo_row(101, "update", "f0", commit="c9", language="post",
                 content="doc 0 REWRITTEN delta epsilon"),
    ], _evo_schema())
    replay(events2, t, batch_id="b2", table_meta=meta)
    assert store.refresh(spark, t)["mode"] == "incremental"
    fresh = SignatureStore(str(tmp_path / "sigren_full"), ["repo", "path"], k=4)
    fresh.refresh(spark, t)
    assert sorted(map(tuple, store.read(spark).collect())) == sorted(
        map(tuple, fresh.read(spark).collect())
    )


def test_drop_then_change_onto_dropped_name_same_batch(spark, tmp_path):
    """ADVICE r7: `DROP content, CHANGE lang content ...` in one batch
    is legal MySQL — the drop vacates the name, the rename claims it.
    The commit detects the same-batch reuse and rewrites every live
    bucket (no alias), so untouched rows serve the CARRIED value and
    the dropped values are gone everywhere; time travel still sees the
    pre-DDL state."""
    meta = _evo_meta()
    t = IcebergLiteTable(str(tmp_path / "dropchg"), n_buckets=4)
    events1 = spark.createDataFrame(
        [_evo_row(i + 1, "insert", f"f{i}", commit=f"c{i}", lang=f"L{i}",
                  content=f"v{i}") for i in range(6)],
        _evo_schema(),
    )
    replay(events1, t, batch_id="b1", table_meta=meta)
    v1 = t.latest_manifest()["version"]
    events2 = spark.createDataFrame([
        _evo_row(100, "ddl", None,
                 stmt="ALTER TABLE test.repo_files DROP COLUMN content, "
                      "CHANGE lang content text"),
        _evo_row(101, "update", "f0", commit="c9", lang="NEW", content="NEW"),
    ], _evo_schema())
    replay(events2, t, batch_id="b2", table_meta=meta)
    m = t.latest_manifest()
    assert "lang" not in m["columns"] and "content" in m["columns"]
    assert m["aliases"] == {}  # full rewrite, not an alias
    got = {r["path"]: r["content"] for r in t.read(spark).collect()}
    # untouched keys: the CARRIED lang value, never the dropped content
    assert got == {"f0": "NEW", **{f"f{i}": f"L{i}" for i in range(1, 6)}}
    # time travel: the pre-DDL snapshot still shows the original columns
    old = {r["path"]: (r["lang"], r["content"])
           for r in t.read(spark, version=v1).collect()}
    assert old["f1"] == ("L1", "v1")


def test_drop_then_readd_same_batch_loses_old_values(spark, tmp_path):
    """DROP x, ADD x in one batch: the name survives but the stored
    values must vanish everywhere (MySQL rewrites the table on DROP) —
    previously untouched buckets leaked the old values through the
    reused name. MOR cannot rewrite bases in one commit and is loud."""
    meta = _evo_meta()
    t = IcebergLiteTable(str(tmp_path / "dropreadd"), n_buckets=4)
    events1 = spark.createDataFrame(
        [_evo_row(i + 1, "insert", f"f{i}", commit=f"c{i}", lang=f"L{i}",
                  content=f"v{i}") for i in range(6)],
        _evo_schema(),
    )
    replay(events1, t, batch_id="b1", table_meta=meta)
    events2 = spark.createDataFrame([
        _evo_row(100, "ddl", None,
                 stmt="ALTER TABLE test.repo_files DROP COLUMN lang, "
                      "ADD COLUMN lang varchar(32)"),
        _evo_row(101, "update", "f0", commit="c9", lang="fresh", content="v0b"),
    ], _evo_schema())
    replay(events2, t, batch_id="b2", table_meta=meta)
    got = {r["path"]: r["lang"] for r in t.read(spark).collect()}
    # f0 re-written post-ALTER; every other key's old value is GONE
    assert got == {"f0": "fresh", **{f"f{i}": None for i in range(1, 6)}}

    tm = IcebergLiteTable(str(tmp_path / "dropreadd_mor"), n_buckets=4,
                          write_mode="mor")
    replay(events1, tm, batch_id="b1", table_meta=meta)
    with pytest.raises(ValueError, match="compact"):
        replay(events2, tm, batch_id="b2", table_meta=meta)


def test_bucket_aligned_landing_replay(spark, tmp_path):
    """VERDICT r7 #1: a typed-wire landing written bucket-aligned
    (layout.land_bucket_aligned — partitioned by the target table's own
    bucket function) replays to the identical state as the flat landing;
    the pbucket partition column is transport detail the decode projects
    away."""
    from bingo2sql_spark.sources.decode import decode_events_typed
    from bingo2sql_spark.sources.layout import land_bucket_aligned
    from bingo2sql_spark.sources.synth import generate_events, to_raw_typed

    ev = generate_events(spark, n_keys=300, versions_per_key=6, seed=5)
    flat_dir, bk_dir = str(tmp_path / "flat"), str(tmp_path / "bucketed")
    to_raw_typed(ev).write.parquet(flat_dir)
    land_bucket_aligned(to_raw_typed(ev), bk_dir, n_buckets=16)

    import os

    assert any(d.startswith("pbucket=") for d in os.listdir(bk_dir))
    ta = IcebergLiteTable(str(tmp_path / "ta"), n_buckets=16)
    tb = IcebergLiteTable(str(tmp_path / "tb"), n_buckets=16)
    replay(decode_events_typed(spark.read.parquet(flat_dir)), ta,
           batch_id="b1", tables=["repo_files"])
    replay(decode_events_typed(spark.read.parquet(bk_dir)), tb,
           batch_id="b1", tables=["repo_files"])
    assert ta.state_checksum(spark) == tb.state_checksum(spark)


def _conf_schema():
    import pyspark.sql.types as T

    payload = T.StructType([
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("size", T.StringType()),
        T.StructField("content", T.StringType()),
    ])
    return T.StructType([
        T.StructField("seq", T.LongType()),
        T.StructField("log_file", T.StringType()),
        T.StructField("log_pos", T.LongType()),
        T.StructField("gtid_uuid", T.StringType()),
        T.StructField("gno", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("thread_id", T.LongType()),
        T.StructField("db", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("before", payload),
        T.StructField("after", payload),
        T.StructField("changed_cols", T.ArrayType(T.StringType())),
        T.StructField("schema_ver", T.IntegerType()),
        T.StructField("statement", T.StringType()),
    ])


def _conf_row(seq, op, key, size=None, content=None, stmt=None):
    import datetime

    after = None if op in ("delete", "ddl") else {
        "repo": "r1", "path": key, "commit": "c1", "size": size,
        "content": content,
    }
    return (seq, "bin.1", seq, None, None, datetime.datetime(2024, 1, 1), 1,
            "test", "repo_files", op, None, after, None, 1, stmt)


def _conf_meta():
    from bingo2sql_spark import ddl as DL

    return DL.parse_schema_text(
        "CREATE TABLE test.repo_files (repo varchar(64), path varchar(255), "
        "commit varchar(40), size int, content text, "
        "PRIMARY KEY (repo, path))"
    )["test.repo_files"]


def test_modify_validate_stored_conformance(spark, tmp_path):
    """VERDICT r7 #4: check_type_change polices DECLARED transitions
    only — storage is text and the wire is never validated, so a column
    declared int can hold non-numeric text. validate_stored=True scans
    the STORED values on MODIFY/CHANGE and rejects the batch listing
    offending keys, like MySQL rejecting an ALTER over nonconforming
    rows; conforming tables pass with rows unchanged."""
    import pytest as _p

    schema, meta = _conf_schema(), _conf_meta()

    # -- conforming table: declared widening + scan passes ------------------
    t_ok = IcebergLiteTable(str(tmp_path / "ok"), n_buckets=4)
    good = spark.createDataFrame(
        [_conf_row(i + 1, "insert", f"f{i}", size=str(100 + i), content=f"v{i}")
         for i in range(4)], schema)
    replay(good, t_ok, batch_id="b1", table_meta=meta)
    alter = spark.createDataFrame(
        [_conf_row(10, "ddl", None,
                   stmt="ALTER TABLE test.repo_files MODIFY size bigint")],
        schema)
    before = sorted((r["path"], r["size"]) for r in t_ok.read(spark).collect())
    replay(alter, t_ok, batch_id="b2", table_meta=meta, validate_stored=True)
    after = sorted((r["path"], r["size"]) for r in t_ok.read(spark).collect())
    assert after == before  # rows unchanged by a metadata-only ALTER

    # -- nonconforming stored text: loud reject with sample keys ------------
    t_bad = IcebergLiteTable(str(tmp_path / "bad"), n_buckets=4)
    mixed = spark.createDataFrame(
        [_conf_row(1, "insert", "f0", size="123", content="v0"),
         _conf_row(2, "insert", "f1", size="oops", content="v1"),
         # out-of-range for int... but MODIFY targets bigint, so fine
         _conf_row(3, "insert", "f2", size="9999999999", content="v2")],
        schema)
    replay(mixed, t_bad, batch_id="b1", table_meta=meta)
    chk = t_bad.state_checksum(spark)
    with _p.raises(ValueError, match=r"nonconforming.*\n.*'size'.*f1") as ei:
        replay(alter, t_bad, batch_id="b2", table_meta=meta,
               validate_stored=True)
    assert "f1" in str(ei.value) and "f0" not in str(ei.value)
    assert t_bad.state_checksum(spark) == chk  # nothing committed

    # without the opt-in the declared-only behavior is unchanged
    replay(alter, t_bad, batch_id="b2", table_meta=meta)

    # -- range conformance: a MODIFY to a SMALLER-capacity declared type is
    # already refused at the declared level; a same-rank retype that the
    # declared check allows still scans ranges (int -> int(11) is a noop,
    # so use varchar shrink-to-fit: stored lengths within the new cap pass)
    t_len = IcebergLiteTable(str(tmp_path / "len"), n_buckets=4)
    replay(good, t_len, batch_id="b1", table_meta=meta)
    widen_then_fit = spark.createDataFrame(
        [_conf_row(20, "ddl", None,
                   stmt="ALTER TABLE test.repo_files MODIFY content mediumtext")],
        schema)
    replay(widen_then_fit, t_len, batch_id="b2", table_meta=meta,
           validate_stored=True)


def test_alias_chain_folds_on_all_bucket_rewrite(spark, tmp_path):
    """VERDICT r7 #5: N sequential renames grow the manifest alias map
    (and thus the read projection's coalesce) — but any COW commit that
    happens to rewrite EVERY live bucket already lands all data files
    under current names, so the aliases fold to {} right there, without
    waiting for compact(). Time travel still serves old names from old
    snapshots' own manifests."""
    meta = _evo_meta()
    keys = [f"f{i}" for i in range(8)]
    t = IcebergLiteTable(str(tmp_path / "fold"), n_buckets=4)
    events1 = spark.createDataFrame(
        [_evo_row(i + 1, "insert", k, commit=f"c{i}", lang=f"L{i}",
                  content=f"v{i}") for i, k in enumerate(keys)],
        _evo_schema(),
    )
    m1 = replay(events1, t, batch_id="b1", table_meta=meta)

    from bingo2sql_spark import ddl as DL

    # two sequential renames, each batch touching ONE key (one bucket):
    # aliases must accumulate a 2-deep chain for the renamed column
    cur_meta = meta
    stmts = [
        "ALTER TABLE test.repo_files CHANGE lang lang2 varchar(64)",
        "ALTER TABLE test.repo_files CHANGE lang2 lang3 varchar(64)",
    ]
    wire = ["lang2", "lang3"]
    for i, stmt in enumerate(stmts):
        ev = spark.createDataFrame([
            _evo_row(100 * (i + 1), "ddl", None, stmt=stmt),
            # post-rename update under the new spelling, single key
            _evo_row(100 * (i + 1) + 1, "update", "f0", commit=f"r{i}",
                     language=None, lang=None, content=f"w{i}"),
        ], _evo_schema())
        replay(ev, t, batch_id=f"ren{i}", table_meta=cur_meta)
        cur_meta = DL.apply_alter(
            cur_meta, DL.parse_alter_table(stmt, default_db="test")[2])
    man = t.latest_manifest()
    assert man["aliases"] == {"lang3": ["lang2", "lang"]}  # chain grows

    # a batch updating ONE key per live bucket rewrites every bucket ->
    # fold. The UNtouched keys in each bucket are the real test: their
    # merged rows are carried through the alias coalesce and written
    # under the current name, so folding must not lose them.
    from bingo2sql_spark.operators.apply import bucket_col

    bmap = {
        r["path"]: r["b"]
        for r in spark.createDataFrame(
            [("r1", k) for k in keys], "repo string, path string"
        ).select("path", bucket_col(4).alias("b")).collect()
    }
    reps = {}
    for k in keys:  # one representative key per live bucket, f0 preferred
        reps.setdefault(bmap[k], k)
    reps[bmap["f0"]] = "f0"
    events2 = spark.createDataFrame(
        [_evo_row(500 + i, "update", k, commit=f"d{i}", content=f"x{k}")
         for i, k in enumerate(sorted(reps.values()))],
        _evo_schema(),
    )
    m2 = replay(events2, t, batch_id="full", table_meta=cur_meta)
    man2 = t.latest_manifest()
    assert m2["buckets_rewritten"] == len(man2["buckets"])
    assert man2["aliases"] == {}  # folded without compact()

    # carried values survived the fold under the final name; rep keys
    # took the batch's FULL image (whose wire lacks lang3 -> NULL)
    got = {r["path"]: (r["lang3"], r["content"])
           for r in t.read(spark).collect()}
    touched = set(reps.values())
    assert got == {
        k: (None, f"x{k}") if k in touched
        else (f"L{i}", f"v{i}")
        for i, k in enumerate(keys)
    }

    # time travel to the pre-fold snapshot still coalesces via aliases
    pre = t.read(spark, version=m1["snapshot"])
    assert "lang" in pre.columns
    assert {r["path"]: r["lang"] for r in pre.collect()} == {
        k: f"L{i}" for i, k in enumerate(keys)
    }
