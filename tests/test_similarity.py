"""Similarity / embedding-dedup operator tests: vectorized-vs-expr
differentials, LSH recall with multi-probe, and the degenerate-bucket
caps that keep the pair blow-up bounded at web scale."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bingo2sql_spark.operators import dedup as DD
from bingo2sql_spark.operators import similarity as SIM

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def embeddings(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    df = df.cache()
    df.count()
    return df


def test_dot_int_arrow_matches_expr(spark, embeddings):
    """The einsum pandas UDF is bit-identical to the Column HOF."""
    pairs = embeddings.alias("a").join(
        embeddings.alias("b"), F.col("a.vec_id") + 1 == F.col("b.vec_id")
    )
    both = pairs.select(
        SIM.dot_int(F.col("a.embedding"), F.col("b.embedding")).alias("d1"),
        SIM.dot_int_arrow(F.col("a.embedding"), F.col("b.embedding")).alias("d2"),
    )
    assert both.filter("d1 <> d2").count() == 0
    assert both.count() > 0


def test_cosine_near_dup_pairs_matches_join_formulation(spark, embeddings):
    """The per-bucket matmul (applyInPandas) produces exactly the pairs
    of the reference within-bucket join + per-pair dot formulation."""
    doubled = embeddings.unionByName(
        embeddings.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    )
    fast = SIM.cosine_near_dup_pairs(doubled, threshold_scaled=900000, n_planes=8)
    # slow reference: explicit join within buckets, HOF dot per pair
    vb = SIM.with_srp_codes(doubled, "embedding", 8, 64).select(
        "vec_id", "embedding", F.col("_codes")[0].alias("_bucket")
    )
    a, b = vb.alias("a"), vb.alias("b")
    slow = (
        a.join(
            b,
            (F.col("a._bucket") == F.col("b._bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            SIM.dot_int(F.col("a.embedding"), F.col("b.embedding")).alias("dot_scaled"),
        )
        .filter(F.col("dot_scaled") >= 900000)
    )
    got = {tuple(r) for r in fast.collect()}
    want = {tuple(r) for r in slow.collect()}
    assert got == want
    # every exact twin is found (twins share every SRP bucket)
    n = embeddings.count()
    twins = {(r["vec_id"], r["vec_id"] + 100000) for r in embeddings.select("vec_id").collect()}
    assert twins <= {(a_, b_) for a_, b_, _ in got}
    assert len(want) >= n


def test_cosine_near_dup_bucket_cap(spark, embeddings):
    """max_bucket_size drops only the over-cap buckets' pairs."""
    doubled = embeddings.unionByName(
        embeddings.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    )
    full = SIM.cosine_near_dup_pairs(doubled, threshold_scaled=900000, n_planes=2)
    capped = SIM.cosine_near_dup_pairs(
        doubled, threshold_scaled=900000, n_planes=2, max_bucket_size=5
    )
    sizes = {
        r["_bucket"]: r["count"]
        for r in SIM.with_srp_codes(doubled, "embedding", 2, 64)
        .groupBy(F.col("_codes")[0].alias("_bucket"))
        .count()
        .collect()
    }
    over = {b for b, c in sizes.items() if c > 5}
    assert over, "fixture should produce at least one over-cap bucket at n_planes=2"
    got_full = full.count()
    got_capped = capped.count()
    if len(over) == len(sizes):
        assert got_capped == 0
    else:
        assert got_capped < got_full


def test_cosine_near_dup_cap_is_logged(spark, embeddings, caplog):
    """No silent caps: the cosine generator's bucket cap logs through the
    same path as the other pair generators' caps."""
    import logging

    with caplog.at_level(logging.INFO, logger="bingo2sql_spark.dedup"):
        SIM.cosine_near_dup_pairs(
            embeddings, threshold_scaled=900000, n_planes=2, max_bucket_size=5
        )
    msgs = [r.getMessage() for r in caplog.records]
    assert any(
        m.startswith("cosine_near_dup_pairs(max_bucket_size=5): degenerate-group cap active")
        for m in msgs
    ), msgs


def test_lsh_topk_neardup_recall_on_doubled_corpus(spark, embeddings):
    """At the bench config (n_planes=4, probe_bits=1), every TRUE
    near-duplicate (the exact twin in the doubled corpus, dot ~ 1e6) is
    retrieved — twins share every SRP bucket, so near-dup recall is 1.0
    regardless of probing. Also: probing strictly improves generic
    top-5 recall and never duplicates a (query, neighbor) pair."""
    doubled = embeddings.unionByName(
        embeddings.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    )
    queries = embeddings.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got1 = SIM.lsh_topk(doubled, queries, k=5, n_planes=4, probe_bits=1)
    rows = got1.collect()
    by_q: dict[int, set[int]] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    twin_hits = sum(1 for qid, nb in by_q.items() if qid + 100000 in nb)
    assert twin_hits / len(by_q) >= 0.95  # near-dup recall
    # no duplicated pairs from probing
    assert len(rows) == sum(len(v) for v in by_q.values())

    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.brute_force_topk(embeddings, queries, k=5).collect()
    }
    got0 = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.lsh_topk(embeddings, queries, k=5, n_planes=4, probe_bits=0).collect()
    }
    gotp = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.lsh_topk(embeddings, queries, k=5, n_planes=4, probe_bits=1).collect()
    }
    assert len(gotp & truth) >= len(got0 & truth)


def test_lsh_topk_multitable_recall(spark, embeddings):
    """Generic ANN recall >= 0.95 vs brute force with the scale knobs
    engaged: 4 tables x 4 planes + one-bit probing (recall compounds as
    1-(1-p)^L across independent tables)."""
    queries = embeddings.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.brute_force_topk(embeddings, queries, k=5).collect()
    }
    got = SIM.lsh_topk(
        embeddings, queries, k=5, n_planes=4, probe_bits=1, n_tables=4
    )
    rows = got.collect()
    pairs = {(r["query_id"], r["neighbor_id"]) for r in rows}
    recall = len(pairs & truth) / len(truth)
    assert recall >= 0.95, f"multi-table recall {recall:.3f} < 0.95"
    # cross-table collisions are deduped
    assert len(rows) == len(pairs)


def test_minhash_bucket_cap(spark):
    """A boilerplate band bucket above the cap is dropped; distinct
    near-dup groups below the cap keep their pairs."""
    boiler = [(i, "lorem ipsum dolor sit amet consectetur adipiscing elit") for i in range(20)]
    pair = [
        (100, "completely different unique text alpha beta gamma delta epsilon"),
        (101, "completely different unique text alpha beta gamma delta epsilon"),
    ]
    docs = spark.createDataFrame(boiler + pair, ["doc_id", "text"])
    uncapped = DD.minhash_candidate_pairs(docs, k=4, bands=2)
    capped = DD.minhash_candidate_pairs(docs, k=4, bands=2, max_bucket_size=10)
    assert uncapped.filter("id_a < 100").count() == 20 * 19 // 2
    assert capped.filter("id_a < 100").count() == 0  # boilerplate dropped
    assert capped.filter("id_a = 100 and id_b = 101").count() == 1  # small group kept


def test_minhash_bands_must_divide_k(spark):
    """A band count that does not divide k would leave the last k % bands
    signature columns out of every band: refused, as the simhash
    generator and the signature store's probes refuse theirs."""
    docs = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="bands=3 must divide k=8"):
        DD.minhash_candidate_pairs(docs, k=8, bands=3)


def test_ngram_jaccard_nonempty_differential(spark):
    """Exact n-gram Jaccard vs a python set-arithmetic oracle on a
    corpus with twins, partial overlaps, short docs and cross-block
    twins — real, NON-EMPTY ground truth for the pair/jaccard
    arithmetic (the r2 finding: parity was 0-rows-vs-0-rows; reference
    ethos core/parser_test.go:434-453 cross-validates on one input)."""
    docs = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy dog", "en"),  # twin of 1
        (3, "the quick brown fox jumps over the sleepy cat", "en"),  # overlap
        (4, "completely unrelated text about spark shuffles", "en"),
        (5, "the quick brown fox jumps over the lazy dog", "de"),  # other block
        (6, "tiny", "en"),  # shorter than shingle_n -> partial shingle
        (7, "tiny", "en"),  # twin of 6
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text", "lang"])
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(df, threshold=0.1, block_col="lang").collect()
    }

    def sh(text):
        w = text.strip().split()
        if len(w) < 3:
            return {" ".join(w)}
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    want = {}
    for i, (ida, ta, la) in enumerate(docs):
        for idb, tb, lb in docs[i + 1 :]:
            if la != lb:
                continue
            a, b = sh(ta), sh(tb)
            if not a & b:
                continue
            j = len(a & b) / len(a | b)
            if round(j, 4) >= 0.1:
                want[(ida, idb)] = j
    assert want[(1, 2)] == 1.0 and want[(6, 7)] == 1.0  # twins found
    assert 0 < want[(1, 3)] < 1  # partial overlap scored
    assert (1, 5) not in want  # lang block respected
    assert set(got) == set(want) and len(got) >= 3
    for k, j in want.items():
        assert abs(got[k] - j) <= 5e-5


def test_cosine_near_dup_multiprobe(spark, embeddings):
    """probe_bits=1 scores exactly the pairs whose SRP buckets are
    within Hamming distance 1 (and dot >= threshold), each emitted
    exactly once — verified against a local numpy all-pairs oracle."""
    import numpy as np

    doubled = embeddings.unionByName(
        embeddings.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    )
    n_planes, thr = 4, 900000
    got = SIM.cosine_near_dup_pairs(
        doubled, threshold_scaled=thr, n_planes=n_planes, probe_bits=1
    ).collect()
    pairs = [(r["id_a"], r["id_b"], r["dot_scaled"]) for r in got]
    assert len(pairs) == len(set(pairs)), "duplicate emissions"

    # local oracle: all pairs with dot>=thr and bucket hamming <= 1
    rows = doubled.collect()
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array([r["embedding"] for r in rows], dtype="float64") * 1000
    iv = np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5)).astype("int64")
    wt = SIM._srp_weights(n_planes, 64).T
    codes = (iv @ wt > 0).astype("int8")
    dots = iv @ iv.T
    want = set()
    n = len(ids)
    for i in range(n):
        ham = np.abs(codes - codes[i]).sum(axis=1)
        cand = np.nonzero((ham <= 1) & (dots[i] >= thr) & (ids > ids[i]))[0]
        for j in cand:
            want.add((ids[i], ids[j], dots[i, j]))
    assert set(pairs) == want
    # strictly more recall than unprobed at the same plane count
    plain = SIM.cosine_near_dup_pairs(
        doubled, threshold_scaled=thr, n_planes=n_planes, probe_bits=0
    ).count()
    assert len(pairs) >= plain


def test_ivf_topk_recall_and_determinism(spark, embeddings):
    """IVF-flat with sampled centroids: top-1 recall vs brute force is
    high even at n_probe=2 (cells are Voronoi around real corpus
    points, so a query's true nearest neighbor usually shares its
    cell), rises with n_probe, and the cell map is deterministic
    (two runs produce identical results). An n_probe past the centroid
    count probes every cell."""
    queries = embeddings.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in SIM.brute_force_topk(embeddings, queries, k=1).collect()
    }

    def recall(n_probe):
        got = {
            (r["query_id"], r["rank"]): r["neighbor_id"]
            for r in SIM.ivf_topk(
                embeddings, queries, k=1, n_probe=n_probe, centroid_mod=11
            ).collect()
        }
        hits = sum(1 for k_, v in exact.items() if got.get(k_) == v)
        return hits / len(exact)

    r2, r4 = recall(2), recall(4)
    assert r2 >= 0.7, r2
    assert r4 >= r2 and r4 >= 0.9, (r2, r4)
    # determinism: identical output across runs
    a = sorted(map(tuple, SIM.ivf_topk(embeddings, queries, k=5, n_probe=2,
                                       centroid_mod=11).collect()))
    b = sorted(map(tuple, SIM.ivf_topk(embeddings, queries, k=5, n_probe=2,
                                       centroid_mod=11).collect()))
    assert a == b
    # probing more cells than there are centroids probes every cell:
    # the result is the exact top-k
    small = embeddings.filter(F.col("vec_id") < 40)
    assert small.filter(F.col("vec_id") % 11 == 0).count() < 8
    every = sorted(map(tuple, SIM.ivf_topk(small, queries, k=3, n_probe=8,
                                           centroid_mod=11).collect()))
    assert every == sorted(map(tuple, SIM.brute_force_topk(small, queries, k=3).collect()))


def test_connected_components_chain_and_isolated(spark):
    """Min-label propagation crosses multi-hop chains (near-dup is not
    transitive pairwise — the component is the dedup unit) and keeps
    isolated docs as their own keeper."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12)], ["id_a", "id_b"]
    )
    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 12, 99]], ["doc_id"])
    got = {
        r["doc_id"]: r["keeper_id"]
        for r in DD.keeper_assignment(docs, pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 99: 99}


def test_connected_components_high_diameter_path(spark, tmp_path, caplog):
    """Round-complexity contract (VERDICT r3 #7): pointer jumping makes
    rounds O(log diameter), so a 10^4-node PATH graph — the worst case
    for plain min-label propagation (10^4 rounds) — must converge
    within ~log2(n)+slack rounds. Also exercises the RELIABLE
    checkpoint option (cluster fault-tolerance path) and the loud
    non-convergence error. The reliable variant leaves no checkpoint
    file behind once its labels are released. Convergence logs the
    round count and each round's seconds."""
    import logging
    import re

    import pytest
    from pyspark.sql import functions as F

    n = 10_000
    pairs = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    with caplog.at_level(logging.INFO, logger="bingo2sql_spark.dedup"):
        cc = DD.connected_components(pairs, max_iter=18)
    # the round count and each round's seconds are logged on convergence
    (m,) = [
        re.match(r"connected_components: converged in (\d+) rounds; seconds per round: (.*)$", r.getMessage())
        for r in caplog.records
        if r.getMessage().startswith("connected_components:")
    ]
    assert m, [r.getMessage() for r in caplog.records]
    rounds, secs = int(m.group(1)), [float(x) for x in m.group(2).split()]
    assert 2 < rounds <= 18 and len(secs) == rounds and all(x > 0 for x in secs)
    assert cc.filter(F.col("component") != 0).count() == 0
    assert cc.count() == n
    # reliable-checkpoint variant converges to the same labeling; the
    # files of every freed round and of the edge list are deleted, the
    # returned labels' once released
    ckpt = tmp_path / "cc_ckpt"
    cc2 = DD.connected_components(
        pairs.filter("id_a < 63"), max_iter=10, checkpoint_dir=str(ckpt),
    )
    assert cc2.filter(F.col("component") != 0).count() == 0
    assert len(list(ckpt.rglob("rdd-*"))) == 1
    DD.release_persisted()
    assert list(ckpt.rglob("rdd-*")) == []
    # refusing to return an unstable labeling is loud
    with pytest.raises(RuntimeError, match="did not converge"):
        DD.connected_components(pairs, max_iter=3)


def test_connected_components_shuffle_join_rounds(spark, monkeypatch):
    """Past _CC_BROADCAST_MAX_VERTICES the rounds shuffle-join the
    label table instead of broadcasting it: the 63-edge path graph gets
    the same labels on both plans."""
    from pyspark.sql import functions as F

    pairs = spark.range(63).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )

    hints = []
    real_broadcast = F.broadcast
    monkeypatch.setattr(F, "broadcast", lambda df: hints.append(1) or real_broadcast(df))

    def labels():
        hints.clear()
        out = DD.connected_components(pairs, max_iter=10)
        got = {r["id"]: r["component"] for r in out.collect()}
        DD.release_persisted()
        return got, len(hints)

    broadcast, n_hinted = labels()
    monkeypatch.setattr(DD, "_CC_BROADCAST_MAX_VERTICES", 0)
    shuffled, n_unhinted = labels()
    assert n_hinted > 0 and n_unhinted == 0, (n_hinted, n_unhinted)
    assert shuffled == broadcast == {i: 0 for i in range(64)}


def test_connected_components_restores_checkpoint_dir(spark, tmp_path):
    """connected_components(checkpoint_dir=...) points the shared
    SparkContext at its own `<dir>/<uuid>` only for the call: the
    session's checkpoint dir (unset, or a caller's) reads the same
    before the call, after it and after release_persisted(), which also
    removes the emptied `<uuid>` dir."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    pairs = spark.range(20).select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    jsc = sc._jsc.sc()
    prev = jsc.checkpointDir()
    try:
        for own in (None, tmp_path / "session_ckpt"):
            if own is not None:
                sc.setCheckpointDir(str(own))
            before = sc.getCheckpointDir()
            ckpt = tmp_path / f"cc_ckpt_{own is not None}"
            cc = DD.connected_components(pairs, max_iter=10, checkpoint_dir=str(ckpt))
            assert sc.getCheckpointDir() == before
            assert cc.filter(F.col("component") != 0).count() == 0
            assert len(list(ckpt.iterdir())) == 1  # the <uuid> dir, holding the labels
            DD.release_persisted()
            assert sc.getCheckpointDir() == before
            assert list(ckpt.iterdir()) == []
    finally:
        getattr(jsc, "checkpointDir_$eq")(prev)


def test_connected_components_releases_checkpoint_blocks(spark):
    """connected_components checkpoints its edge list and every round's
    labels. Each round's blocks are freed once the next round is
    materialized and the edge list's once the labels converge; the
    returned labels are registered, so once the result is consumed
    release_persisted() leaves no block of the call behind. The labels
    equal a sequential min-label oracle."""
    sc = spark.sparkContext

    def persistent() -> set:
        return set(sc._jsc.getPersistentRDDs().keySet())

    # a 40-edge path (pointer-jump rounds), a 6-clique, one pair and
    # isolated vertices
    edges = [(i, i + 1) for i in range(40)] + [(200, 201)]
    edges += [(a, b) for a in range(100, 106) for b in range(a + 1, 106)]
    ids = sorted({v for e in edges for v in e} | {300, 301})
    label = {v: v for v in ids}
    changed = True
    while changed:
        changed = False
        for a, b in edges:
            lo = min(label[a], label[b])
            if (label[a], label[b]) != (lo, lo):
                label[a] = label[b] = lo
                changed = True

    held = persistent()
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    docs = spark.createDataFrame([(v,) for v in ids], "doc_id long")
    cc = DD.connected_components(pairs, vertices=docs)
    got = sorted(map(tuple, cc.collect()))
    assert got == sorted(label.items())
    # every round's labels and the edge list are freed already; only
    # the returned labels' checkpoint stays until released
    assert len(persistent() - held) == 1, persistent() - held
    DD.release_persisted()
    assert persistent() - held == set(), persistent() - held


def test_decontaminate_semantics(spark):
    """Exact eval twins are flagged with the full shingle overlap,
    clean docs are absent, partial overlap respects min_hits, and the
    eval shingle set is broadcast (no corpus-wide shuffle join)."""
    from pyspark.sql import functions as F

    evals = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    train = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon"),   # exact twin: 3 shingles
            (11, "x alpha beta gamma y"),             # one shared shingle
            (12, "totally different words here now"), # clean
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["eval_hits"] for r in DD.decontaminate(train, evals).collect()}
    assert got == {10: 3, 11: 1}
    strict = DD.decontaminate(train, evals, min_hits=2)
    assert {r["doc_id"] for r in strict.collect()} == {10}
    plan = DD.decontaminate(train, evals)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_ivf_trained_centroids_recall(spark, embeddings):
    """KMeans-trained centroids plug into ivf_topk and meet (or beat)
    the sampled quantizer's recall at equal cell count; output stays
    deterministic for a fixed model."""
    queries = embeddings.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.brute_force_topk(embeddings, queries, k=5).collect()
    }
    n_cells = max(4, embeddings.count() // 37)  # match centroid_mod=37 cell count
    cents = SIM.train_centroids(embeddings, n_centroids=n_cells, max_iter=8)
    assert cents.count() == n_cells

    def recall(df):
        got = {(r["query_id"], r["neighbor_id"]) for r in df.collect()}
        return len(got & truth) / len(truth)

    # spherical-kmeans centroids beat the sampled quantizer at equal
    # cell count, at every probe depth (measured: .51 vs .43 @2,
    # .70 vs .62 @4 on this fixture)
    for probe in (2, 4):
        r_trained = recall(
            SIM.ivf_topk(embeddings, queries, k=5, n_probe=probe, centroids=cents)
        )
        r_sampled = recall(
            SIM.ivf_topk(embeddings, queries, k=5, n_probe=probe, centroid_mod=37)
        )
        assert r_trained >= r_sampled, (probe, r_trained, r_sampled)
    assert r_trained >= 0.65  # probe=4 floor on this fixture
    a = sorted(map(tuple, SIM.ivf_topk(embeddings, queries, k=5, n_probe=2,
                                       centroids=cents).collect()))
    b = sorted(map(tuple, SIM.ivf_topk(embeddings, queries, k=5, n_probe=2,
                                       centroids=cents).collect()))
    assert a == b


def test_simhash_pairs_semantics(spark):
    """Hand goldens: identical docs pair at hamming 0; a one-bit
    signature neighbor pairs at hamming 1; distant docs do not pair;
    the bucket cap drops degenerate band buckets. 16-bit signatures in
    two bands cover radius 1."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),          # identical -> h0 with 1
            (3, "alpha beta gamma delta epsilon"),  # near -> maybe h<=1
            (4, "totally unrelated words entirely xyz qqq"),
        ],
        ["doc_id", "text"],
    )
    out = DD.simhash_pairs_banded(docs, n_bits=16, bands=2, max_hamming=1)
    rows = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    assert rows.get((1, 2)) == 0
    sigs = {r["doc_id"]: r["simhash"] for r in DD.simhash_signatures(docs, n_bits=16).collect()}
    def ham(a, b):
        return sum(x != y for x, y in zip(sigs[a], sigs[b]))
    # every emitted pair's hamming matches the true signature distance,
    # and every true pair at distance <= 1 was emitted
    for (x, y), h in rows.items():
        assert ham(x, y) == h
    for x in sigs:
        for y in sigs:
            if x < y and ham(x, y) <= 1:
                assert (x, y) in rows, (x, y, ham(x, y))
    # cap: all four docs share a bucket only if identical; force a
    # degenerate bucket with 20 identical docs and cap below it
    boiler = spark.createDataFrame(
        [(i, "same same same words") for i in range(20)], ["doc_id", "text"]
    )
    capped = DD.simhash_pairs_banded(
        boiler, n_bits=16, bands=2, max_hamming=1, max_bucket_size=10
    )
    assert capped.count() == 0
    uncapped = DD.simhash_pairs_banded(boiler, n_bits=16, bands=2, max_hamming=1)
    assert uncapped.filter("hamming = 0").count() == 20 * 19 // 2


def test_simhash_banded_matches_flip_probe_at_radius_one(spark):
    """Differential: the banded candidate generator (bands=2, pigeonhole
    covers hamming<=1) must emit EXACTLY the pair set of an exhaustive
    one-bit-flip probe over the same 16-bit signatures — both are exact
    for radius 1, via entirely different probe structures."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choices(vocab, k=12))) for i in range(60)]
        + [(100 + i, " ".join(rng.choices(vocab, k=12))) for i in range(10)],
        ["doc_id", "text"],
    )
    by_sig: dict[str, list[int]] = {}
    for r in DD.simhash_signatures(docs, n_bits=16).collect():
        by_sig.setdefault(r["simhash"], []).append(r["doc_id"])
    flip = set()
    for sig, ids in by_sig.items():
        probes = [(sig, 0)] + [
            (sig[:i] + ("1" if sig[i] == "0" else "0") + sig[i + 1 :], 1)
            for i in range(16)
        ]
        for probe, h in probes:
            for x in ids:
                for y in by_sig.get(probe, ()):
                    if x < y:
                        flip.add((x, y, h))
    banded = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in DD.simhash_pairs_banded(
            docs, n_bits=16, bands=2, max_hamming=1
        ).collect()
    }
    assert banded == flip
    assert {h for _, _, h in flip} == {0, 1}  # non-vacuous


def test_simhash_banded_64bit_complete_vs_bruteforce(spark):
    """Completeness + exactness at the production config (64 bits,
    4x16-bit bands, radius 3): the banded output must equal the brute
    all-pairs hamming<=3 set computed from the signatures directly —
    pigeonhole guarantees no candidate is missed, verification
    guarantees no false pair survives."""
    import random

    rng = random.Random(11)
    vocab = [f"tok{i}" for i in range(50)]
    base = [(i, " ".join(rng.choices(vocab, k=15))) for i in range(25)]
    # exact twins (hamming 0) + one-token perturbations (small hamming)
    rows = (
        base
        + [(100 + i, t) for i, t in base]
        + [(200 + i, t + " extraword") for i, t in base[:10]]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in DD.simhash_signatures(docs, n_bits=64).collect()
    }
    assert all(len(s) == 64 for s in sigs.values())
    truth = set()
    ids = sorted(sigs)
    for i, x in enumerate(ids):
        for y in ids[i + 1 :]:
            h = sum(a != b for a, b in zip(sigs[x], sigs[y]))
            if h <= 3:
                truth.add((x, y, h))
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in DD.simhash_pairs_banded(
            docs, n_bits=64, bands=4, max_hamming=3
        ).collect()
    }
    assert got == truth
    assert any(h == 0 for _, _, h in truth)  # twins made the test non-vacuous


def test_simhash_signature_width_extension_is_prefix_stable(spark):
    """The >32-bit extension (salted second md5) must not change the
    first 32 bits: a 64-bit signature's prefix == the 32-bit signature."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "one two three four five")],
        ["doc_id", "text"],
    )
    s32 = {r["doc_id"]: r["simhash"] for r in DD.simhash_signatures(docs, n_bits=32).collect()}
    s64 = {r["doc_id"]: r["simhash"] for r in DD.simhash_signatures(docs, n_bits=64).collect()}
    for k in s32:
        assert s64[k][:32] == s32[k]
    # and the per-row Column variant agrees at 64 bits
    from bingo2sql_spark.functions import text as TX

    col = {
        r["doc_id"]: r["s"]
        for r in docs.select("doc_id", TX.simhash_bits("text", 64).alias("s")).collect()
    }
    assert col == s64


def test_simhash_banded_validation(spark):
    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="divide evenly"):
        DD.simhash_pairs_banded(docs, n_bits=64, bands=5)
    with _pytest.raises(ValueError, match="pigeonhole"):
        DD.simhash_pairs_banded(docs, n_bits=64, bands=4, max_hamming=4)


def test_release_persisted_frees_pair_generator_caches(spark):
    """ADVICE r5: the pair generators' persisted signature/posting
    tables are registered and released in bulk — a long-lived driver
    does not accumulate cached blocks across dedup calls."""
    from bingo2sql_spark.operators import dedup as DD

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta tok{i} epsilon zeta") for i in range(30)],
        "doc_id long, text string",
    )
    DD.minhash_candidate_pairs(docs, k=4, bands=2).count()
    DD.simhash_pairs_banded(docs, n_bits=8, bands=2, max_hamming=1).count()
    assert len(DD._PERSISTED) >= 2
    released = DD.release_persisted()
    assert released >= 2 and not DD._PERSISTED
    # correctness unaffected: the same call recomputes fine afterwards
    assert DD.minhash_candidate_pairs(docs, k=4, bands=2).count() >= 0
    DD.release_persisted()


def test_feature_hash_embedding_unit_norm_and_determinism(spark):
    """Hashing-trick embedding: unit-L2 (zero guard), deterministic
    across recomputation, and token-order invariant."""
    import math

    from bingo2sql_spark.operators.similarity import feature_hash_embedding

    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "fox brown quick the"), (3, "")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["embedding"] for r in feature_hash_embedding(docs, dim=8).collect()}
    assert len(rows[1]) == 8
    assert math.isclose(sum(x * x for x in rows[1]), 1.0, rel_tol=1e-9)
    # bag-of-words: permuted tokens -> identical embedding
    assert rows[1] == rows[2]
    rows2 = {r["doc_id"]: r["embedding"] for r in feature_hash_embedding(docs, dim=8).collect()}
    assert rows == rows2


def test_ivf_incremental_assignments_match_full(spark, embeddings):
    """VERDICT r5 #5: the maintained IVF assignment table — evict
    changed keys, re-assign only them — equals a full re-assign of the
    final corpus for a fixed centroid set; ivf_topk(corpus_cells=)
    returns exactly the inline-assignment result."""
    cents = embeddings.filter(F.col("vec_id") % 37 == 0)
    base = embeddings.filter(F.col("vec_id") % 5 != 0)
    assign0 = SIM.ivf_assign_cells(base, cents)
    # the change batch: 1/5 of ids are NEW (were held out), every 7th
    # existing id re-embeds (perturbed = roll the array), every 11th is
    # deleted
    perturbed = base.filter(F.col("vec_id") % 7 == 0).select(
        "vec_id",
        F.concat(
            F.slice(F.col("embedding"), 2, 100000),
            F.slice(F.col("embedding"), 1, 1),
        ).alias("embedding"),
        F.lit(False).alias("_gone"),
    )
    added = embeddings.filter(F.col("vec_id") % 5 == 0).select(
        "vec_id", "embedding", F.lit(False).alias("_gone")
    )
    deleted = base.filter(F.col("vec_id") % 11 == 0).select(
        "vec_id", "embedding", F.lit(True).alias("_gone")
    )
    changes = perturbed.unionByName(added).unionByName(deleted)
    # deletes win over perturbs for ids hitting both (7 and 11): drop dups
    changes = changes.withColumn(
        "_rk", F.row_number().over(
            __import__("pyspark.sql.window", fromlist=["Window"]).Window
            .partitionBy("vec_id").orderBy(F.col("_gone").desc())
        )
    ).filter(F.col("_rk") == 1).drop("_rk")
    incr = SIM.update_ivf_assignments(assign0, changes, cents, deleted_col="_gone")
    # final corpus state the changes describe
    live_changed = changes.filter(~F.col("_gone")).select("vec_id", "embedding")
    final = base.join(changes.select("vec_id"), "vec_id", "left_anti").unionByName(
        live_changed
    )
    full = SIM.ivf_assign_cells(final, cents)
    a = {(r["vec_id"], r["_cell"]) for r in incr.collect()}
    b = {(r["vec_id"], r["_cell"]) for r in full.collect()}
    assert a == b and a
    # the maintained table plugs into the query path unchanged
    queries = final.filter(F.col("vec_id") % 100 == 0).withColumnRenamed(
        "vec_id", "query_id"
    )
    via_cells = SIM.ivf_topk(final, queries, k=5, centroids=cents, corpus_cells=incr)
    inline = SIM.ivf_topk(final, queries, k=5, centroids=cents)
    ra = {tuple(r) for r in via_cells.collect()}
    rb = {tuple(r) for r in inline.collect()}
    assert ra == rb and ra


def test_ivf_retrain_trigger_on_skew(spark, embeddings):
    """Cell-balance retrain trigger: a healthy assignment is quiet; a
    corpus collapsed onto one cell (drift) trips the skew check; a
    mostly-empty centroid set trips empty_frac."""
    cents = embeddings.filter(F.col("vec_id") % 37 == 0)
    n_cents = cents.count()
    healthy = SIM.ivf_assign_cells(embeddings, cents)
    assert not SIM.ivf_needs_retrain(healthy, n_cents, max_skew=50.0, max_empty_frac=0.99)
    # drift: every vector becomes (a copy of) one centroid's vector
    one = embeddings.filter(F.col("vec_id") % 37 == 0).limit(1).collect()[0]["embedding"]
    drifted = embeddings.select(
        "vec_id", F.array(*[F.lit(float(x)) for x in one]).alias("embedding")
    )
    collapsed = SIM.ivf_assign_cells(drifted, cents)
    bal = SIM.ivf_cell_balance(collapsed, n_cents)
    assert bal["max_cell"] == bal["n_vectors"]  # one cell owns everything
    assert SIM.ivf_needs_retrain(collapsed, n_cents, max_skew=8.0)
    assert SIM.ivf_needs_retrain(collapsed, n_cents, max_skew=1e9,
                                 max_empty_frac=0.2)  # empties trip too
