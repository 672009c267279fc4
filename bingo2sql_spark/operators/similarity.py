"""Approximate-nearest-neighbor search over embedding columns.

Baseline: brute-force cosine/dot top-k (query-set broadcast against the
corpus — one pass, no shuffle of the big side; TakeOrderedAndProject per
query via window top-k).

Scale path: sign-random-projection LSH — each vector gets a small bucket
code from deterministic hyperplanes; candidates only join within a
bucket. At 10^9 vectors the bucket join replaces the O(Q*N) scan.

Determinism: dot products are computed on round(x*1000) integer
components (exact in doubles), so any SQL engine reproduces the exact
ranking — float-sum association differences can't flip the order.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bingo2sql_spark.functions import text as TX
from bingo2sql_spark.operators.dedup import _cap_groups, _evict, _persisted
from bingo2sql_spark.session import on_python_worker


def _int_vec(col: F.Column) -> F.Column:
    """Component-wise round(x*1000): exact integer embedding proxy."""
    return F.transform(col, lambda x: F.round(x.cast("double") * 1000))


def dot_int(a: F.Column, b: F.Column) -> F.Column:
    """Interpreted-HOF dot product: the reference that
    test_dot_int_arrow_matches_expr checks dot_int_arrow against. Engine
    paths score with dot_int_arrow (one numpy op per Arrow batch,
    ~10-20x faster, identical values) or an exact matmul."""
    return F.aggregate(
        F.zip_with(_int_vec(a), _int_vec(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ).cast("long")


def _round_half_away(x):
    """Match Spark/DuckDB round(): half away from zero (np.rint is
    half-to-even and would flip exact .5 boundaries)."""
    return np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5)).astype("int64")


def _scaled(vectors) -> np.ndarray:
    """round(x*1000) int64 matrix of a sequence of embedding vectors —
    the exact integer proxy every scorer and coder computes on."""
    return _round_half_away(np.array(list(vectors), dtype="float64") * 1000)


def _exact_matmul(a, b):
    """a @ b for int64 operands, through float64 BLAS when provably
    EXACT: float64 represents every integer up to 2^53, so when
    k * max|a| * max|b| < 2^53 no partial sum can lose a bit and the
    result equals the int64 product bit-for-bit. numpy has no BLAS
    kernel for int64 (a matmul falls back to naive C loops, ~30x
    slower); embedding components here are round(x*1000) of roughly
    unit-norm vectors (|v| ~ 1e3, k = 64 -> bound ~6e10 << 9e15), so
    the BLAS path is the one that runs in practice. Inputs outside the
    provable bound fall back to the int64 loop unchanged."""
    ma = int(np.abs(a).max(initial=0))
    mb = int(np.abs(b).max(initial=0))
    k = a.shape[-1]
    if k * ma * mb < (1 << 53):
        return (a.astype("float64") @ b.astype("float64")).astype("int64")
    return a @ b


def dot_int_arrow(a: F.Column, b: F.Column) -> F.Column:
    """Vectorized dot of two embedding columns on round(x*1000) ints:
    a pandas UDF doing ONE einsum per Arrow batch. Bit-identical to
    dot_int (int64 arithmetic both ways)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    @on_python_worker
    def _dot(xs: pd.Series, ys: pd.Series) -> pd.Series:
        if len(xs) == 0:
            return pd.Series([], dtype="int64")
        return pd.Series(np.einsum("ij,ij->i", _scaled(xs), _scaled(ys)), dtype="int64")

    return _dot(a, b)


def _local_topk(ids, vmat, qids, qmat, k: int, query_id_col: str) -> pd.DataFrame:
    """Each query's top-k among one block of corpus vectors (ids, int
    matrix) under the global order — dot desc, then lower neighbor_id —
    so the block's rows hold every global top-k candidate it owns and
    _rank_topk finishes from them."""
    dots = _exact_matmul(vmat, qmat.T)  # (n, q) exact int64
    kk = min(k, len(ids))
    order = np.lexsort((ids[None, :].repeat(len(qids), 0), -dots.T))
    top = order[:, :kk]
    return pd.DataFrame(
        {
            query_id_col: np.repeat(qids, kk),
            "neighbor_id": ids[top].ravel(),
            "dot_scaled": np.take_along_axis(dots.T, top, 1).ravel(),
        }
    )


def _topk_schema(query_id_col: str) -> str:
    return f"{query_id_col} long, neighbor_id long, dot_scaled long"


def _rank_topk(scored: DataFrame, k: int, query_id_col: str) -> DataFrame:
    """The global top-k per query of (query, neighbor_id, dot_scaled)
    candidate rows, ranked 1..k by dot desc, then lower neighbor_id."""
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("dot_scaled").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "dot_scaled", "rank")
    )


def _hamming1(code: F.Column, n_planes: int) -> list[F.Column]:
    """The n_planes '0'/'1' codes at Hamming distance 1 from `code`: the
    buckets a near neighbor most likely straddled into (one-bit
    multi-probe)."""
    out = []
    for j in range(n_planes):
        flipped = F.when(F.substring(code, j + 1, 1) == "1", F.lit("0")).otherwise(F.lit("1"))
        out.append(F.concat(F.substring(code, 1, j), flipped, F.substring(code, j + 2, n_planes)))
    return out


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_driver_queries: int = 100_000,
) -> DataFrame:
    """Exact top-k by integer-scaled dot product.

    The query set is collected to a small int64 matrix and shipped in
    the closure; each Arrow batch of corpus vectors does ONE matrix
    multiply (V @ Q.T) inside mapInPandas and emits only its LOCAL top-k
    per query — the corpus is scanned once, nothing but (batches x
    queries x k) candidate rows move, and the global window finishes
    the top-k. Scores are int64 throughout, bit-identical to dot_int.
    """
    # the query set ships in the task closure: O(Q * dim) ints on the
    # driver and per executor. Brute force is the SMALL-Q baseline by
    # design — a larger query set belongs in lsh_topk (bucketed join,
    # nothing collected); fail loudly instead of OOMing the driver.
    # (limit+1 keeps the guard inside the ONE collect job.)
    qrows = queries.select(query_id_col, vec_col).limit(max_driver_queries + 1).collect()
    if len(qrows) > max_driver_queries:
        raise ValueError(
            f"brute_force_topk would collect > {max_driver_queries} queries; "
            "use lsh_topk for large query sets or raise max_driver_queries"
        )
    qids = np.array([r[query_id_col] for r in qrows], dtype="int64")
    qmat = _scaled(r[vec_col] for r in qrows)

    @on_python_worker
    def score(batches):
        for pdf in batches:
            if len(pdf):
                yield _local_topk(
                    pdf[id_col].to_numpy(), _scaled(pdf[vec_col]), qids, qmat, k, query_id_col
                )

    scored = vectors.select(id_col, vec_col).mapInPandas(
        score, schema=_topk_schema(query_id_col)
    )
    return _rank_topk(scored, k, query_id_col)


def cosine_near_dup_pairs(
    vectors: DataFrame,
    threshold_scaled: int,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
    chunk_rows: int = 4096,
    probe_bits: int = 0,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates share an SRP
    bucket (near-identical vectors almost always do — exact twins
    always), then exact integer-scaled dot filters by `threshold_scaled`
    (on round(x*1000) components; for unit-normalized embeddings cosine
    t corresponds to threshold_scaled ~ t * 1e6).

    Scale shape (10^9 vectors): the ONLY shuffle is the groupBy on the
    bucket code; within a bucket all pairs are scored with ONE chunked
    numpy matmul (iv @ iv.T upper triangle) inside applyInPandas — no
    per-pair interpreted expression ever runs, and only pairs >=
    threshold leave the executor. n_planes bounds expected bucket size
    (N / 2^n_planes); `max_bucket_size` drops degenerate buckets
    outright (dedup._cap_groups, logged like the other pair generators'
    caps: boilerplate/zero-ish embeddings that would go quadratic —
    standard near-dup practice; dropped buckets lose their pairs, which
    is the documented trade). chunk_rows bounds the matmul working set
    to chunk_rows x bucket_size int64s regardless of bucket size.

    `probe_bits=1` adds one-bit MULTI-PROBE recall: every vector also
    visits the n_planes buckets at Hamming distance 1, so near-dup pairs
    that straddle ONE hyperplane are scored too. Exactly-once emission
    without any dedup shuffle: a pair is emitted only in the group where
    its SMALLER-id member sits in its HOME bucket — same-bucket pairs
    fire once (both home), hamming-1 pairs fire in exactly one of their
    two home groups, probed-probed co-occurrences never fire. Cost:
    (n_planes+1)x rows into the groupBy — the standard probe trade."""
    # int32 vector proxy from the coder (see with_srp_codes): the probe
    # explode below fans every vector out (n_planes+1)-fold into the
    # bucket shuffle, so carrying round(x*1000) as array<int> instead of
    # array<double> quarters the exchange's payload bytes — the scorer
    # consumes exactly these ints either way
    vb = with_srp_codes(vectors, vec_col, n_planes, dim, emit_int_vec=True).select(
        id_col, F.col("_iv").alias(vec_col), F.col("_codes")[0].alias("_bucket")
    )
    # persist the bucketed table when capped: the cap-count branch and
    # the main stream would otherwise each re-run the coder (one full
    # Arrow round-trip of every vector per reference)
    vb = _cap_groups(
        _persisted(vb) if max_bucket_size else vb,
        ["_bucket"],
        max_bucket_size,
        f"cosine_near_dup_pairs(max_bucket_size={max_bucket_size})",
    )
    probes = [F.struct(F.col("_bucket").alias("_b"), F.lit(True).alias("_home"))]
    if probe_bits:
        probes += [
            F.struct(c.alias("_b"), F.lit(False).alias("_home"))
            for c in _hamming1(F.col("_bucket"), n_planes)
        ]
    vb = vb.select(id_col, vec_col, F.explode(F.array(*probes)).alias("_p")).select(
        id_col, vec_col, F.col("_p._b").alias("_bucket"), F.col("_p._home").alias("_home")
    )

    thr = int(threshold_scaled)

    @on_python_worker
    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "dot_scaled": []}).astype(
                {"id_a": "int64", "id_b": "int64", "dot_scaled": "int64"}
            )
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        home = pdf["_home"].to_numpy()[order]
        # rows arrive with the int32 proxy from the coder
        iv = np.array(list(pdf[vec_col].iloc[order]), dtype="int64")
        out_a, out_b, out_d = [], [], []
        for i0 in range(0, n, chunk_rows):
            i1 = min(i0 + chunk_rows, n)
            g = _exact_matmul(iv[i0:i1], iv.T)  # (chunk, n) exact int64
            # upper triangle (global j > i <=> id_b > id_a) AND the
            # smaller-id member is in its home bucket (probe dedup rule)
            rows, cols = np.nonzero(g >= thr)
            keep = (cols > (rows + i0)) & home[rows + i0]
            out_a.append(ids[rows[keep] + i0])
            out_b.append(ids[cols[keep]])
            out_d.append(g[rows[keep], cols[keep]])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a) if out_a else np.array([], dtype="int64"),
                "id_b": np.concatenate(out_b) if out_b else np.array([], dtype="int64"),
                "dot_scaled": np.concatenate(out_d) if out_d else np.array([], dtype="int64"),
            }
        )

    return vb.groupBy("_bucket").applyInPandas(
        score, schema="id_a long, id_b long, dot_scaled long"
    )


def feature_hash_embedding(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 16,
) -> DataFrame:
    """Deterministic text embedding by the HASHING TRICK (Weinberger et
    al., ICML'09): each token adds ±1 to the dimension selected by a
    hash of the token; the resulting integer vector is L2-normalized.
    No trained model, reproducible in any engine with md5 — this is the
    embedding the SignatureStore's `embedding` family maintains when
    the corpus has no externally-computed vectors (token-level cosine
    on these behaves like an unweighted bag-of-words similarity, the
    right default signal for near-dup curation).

    Computed as `dim` conditional sums in ONE codegen groupBy over
    exploded tokens (same shape as simhash_signatures): bucket = the
    first 4 md5 hex chars mod dim, sign = parity of the 5th. Returns
    (id, embedding: array<double>), unit-L2 (zero vectors guarded)."""
    words = docs.select(F.col(id_col), F.explode(TX.tokens(text_col)).alias("_w")).withColumn(
        "_h", F.md5(F.col("_w"))
    )
    bucket = (F.conv(F.substring("_h", 1, 4), 16, 10).cast("long") % dim).cast("int")
    sign = (F.ascii(F.substring("_h", 5, 1)) % 2) * 2 - 1
    words = words.select(F.col(id_col), bucket.alias("_b"), sign.alias("_s"))
    aggs = [
        F.sum(F.when(F.col("_b") == d, F.col("_s")).otherwise(0)).alias(f"c{d}")
        for d in range(dim)
    ]
    agged = words.groupBy(id_col).agg(*aggs)
    vec = F.array(*[F.col(f"c{d}").cast("double") for d in range(dim)])
    norm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x))
    norm = F.greatest(norm, F.lit(1e-12))
    return agged.select(
        F.col(id_col),
        F.transform(vec, lambda x: x / norm).alias("embedding"),
    )


def _srp_weights(n_planes: int, dim: int):
    import hashlib

    return np.array(
        [
            [
                1 if int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[0], 16) % 2 else -1
                for i in range(dim)
            ]
            for j in range(n_planes)
        ],
        dtype="int64",
    )


def with_srp_codes(
    df: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 1,
    emit_int_vec: bool = False,
) -> DataFrame:
    """Adds `_codes`: one sign-random-projection bucket code ('0'/'1'
    per hyperplane) per LSH table, every table from ONE
    (n, dim) x (dim, n_tables*n_planes) numpy matmul per Arrow batch
    (~10x faster on large corpora than a Column-expression form, whose
    interpreted HOFs evaluate per element). Table t uses hyperplanes
    [t*n_planes, (t+1)*n_planes); hyperplane j's weight on dimension i
    is ±1 from the parity of a hex char of md5(j||':'||i)
    (_srp_weights) — deterministic, no stored model.

    `emit_int_vec=True` additionally REPLACES `vec_col` with `_iv`, the
    exact round(x*1000) integer proxy as array<int> — the value every
    downstream scorer recomputes anyway. int32 quarters the per-row
    vector bytes of any following shuffle (the probe explode fans
    vectors out (n_planes+1)-fold); |round(x*1000)| must fit int32,
    i.e. |x| < ~2.1e6 — guarded loudly, unreachable for any real
    embedding."""
    from pyspark.sql import types as T

    wt = _srp_weights(n_tables * n_planes, dim).T  # (dim, L*P)
    base = [f for f in df.schema.fields if not (emit_int_vec and f.name == vec_col)]
    out_schema = T.StructType(
        base
        + ([T.StructField("_iv", T.ArrayType(T.IntegerType()))] if emit_int_vec else [])
        + [T.StructField("_codes", T.ArrayType(T.StringType()))]
    )

    @on_python_worker
    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            iv = _scaled(pdf[vec_col])
            bits = (_exact_matmul(iv, wt) > 0).astype("uint8").astype(str)  # (n, L*P)
            pdf = pdf.copy()
            if emit_int_vec:
                if np.abs(iv).max(initial=0) >= (1 << 31):
                    raise ValueError(
                        "embedding component overflows the int32 proxy "
                        "(|round(x*1000)| >= 2^31)"
                    )
                pdf["_iv"] = list(iv.astype("int32"))
                pdf = pdf.drop(columns=[vec_col])
            codes = ["".join(r) for r in bits]
            pdf["_codes"] = pd.Series(
                [[c[t * n_planes:(t + 1) * n_planes] for t in range(n_tables)] for c in codes],
                index=pdf.index,
            )
            yield pdf[[f.name for f in out_schema.fields]]

    return df.mapInPandas(gen, schema=out_schema)


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    probe_bits: int = 0,
    n_tables: int = 1,
) -> DataFrame:
    """ANN top-k restricted to the query's SRP bucket(s). Recall < 1 by
    construction; two standard recall levers, composable:

    - `probe_bits=1` — one-bit MULTI-PROBE: each query also probes the
      n_planes buckets at Hamming distance 1 (the buckets a true
      neighbor most likely straddled into) for ~(n_planes+1)x more
      candidate rows; the corpus side still shuffles ONCE.
    - `n_tables=L` — MULTI-TABLE LSH: L independent hyperplane families
      (table t uses planes [t*n_planes, (t+1)*n_planes)); candidates are
      the union over tables. Corpus rows fan out L-fold into the join
      (the standard L-table memory/recall trade); a pair colliding in
      several tables is deduped before scoring. Recall 1-(1-p)^L.

    Buckets are (table, code) pairs from with_srp_codes. One table
    holds each corpus vector in one bucket, and a query's probes are
    distinct codes, so no pair can repeat and no dedup shuffle is
    added; only n_tables > 1 dedups.

    Scoring: per BUCKET, one BLAS matmul emits each probing query's
    local top-k (_local_topk), so each corpus vector crosses Arrow once
    per table and each query vector once per probe, and the global
    window ranks <= (probes x tables x k) rows per query. Shipping every
    candidate row to a per-row pandas-UDF dot instead cost 5.7 s on
    1.26M candidate rows at sf1.0, all but ~1 s of it the per-row Python
    boundary."""
    vb = with_srp_codes(vectors.select(id_col, vec_col), vec_col, n_planes, dim, n_tables).select(
        id_col, vec_col, F.posexplode("_codes").alias("_t", "_code")
    )
    qb = with_srp_codes(
        queries.select(query_id_col, F.col(vec_col).alias("_qvec")), "_qvec", n_planes, dim, n_tables
    ).select(query_id_col, "_qvec", F.posexplode("_codes").alias("_t", "_c"))
    probes = [F.col("_c")] + (_hamming1(F.col("_c"), n_planes) if probe_bits else [])
    qb = qb.select(query_id_col, "_qvec", "_t", F.explode(F.array(*probes)).alias("_code"))

    @on_python_worker
    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(
                {query_id_col: [], "neighbor_id": [], "dot_scaled": []}
            ).astype({query_id_col: "int64", "neighbor_id": "int64", "dot_scaled": "int64"})
        return _local_topk(
            left[id_col].to_numpy(), _scaled(left[vec_col]),
            right[query_id_col].to_numpy(), _scaled(right["_qvec"]), k, query_id_col,
        )

    local = (
        vb.groupBy("_t", "_code")
        .cogroup(qb.groupBy("_t", "_code"))
        .applyInPandas(score, schema=_topk_schema(query_id_col))
    )
    if n_tables > 1:
        # a pair can collide in several tables (same dot each time)
        local = local.dropDuplicates([query_id_col, "neighbor_id"])
    return _rank_topk(local, k, query_id_col)


def _centroid_matrix(
    cents: DataFrame, id_col: str, vec_col: str, max_centroids: int
):
    """Collect + sort the centroid set once (guarded, metadata-scale);
    returns (cid ndarray, (dim, C) int64 matrix) for closure shipping."""
    crows = cents.select(id_col, vec_col).limit(max_centroids + 1).collect()
    if len(crows) > max_centroids:
        raise ValueError(
            f"would collect > {max_centroids} centroids; raise centroid_mod "
            "(cells should be ~sqrt(N), metadata-scale)"
        )
    crows.sort(key=lambda r: r[id_col])  # cid-ascending => stable tie-break
    cid = np.array([r[id_col] for r in crows], dtype="int64")
    cmat = _scaled(r[vec_col] for r in crows).T  # (dim, C)
    return cid, cmat


def _with_cells(
    df: DataFrame, keep: list[str], vec_col: str, cid, cmat, n_top: int = 1
) -> DataFrame:
    """(keep..., vec_col, _cell): each row once per one of its `n_top`
    IVF cells — the largest integer dots against the centroid matrix
    of _centroid_matrix, ties to the smallest centroid id (stable over
    the cid-ascending columns), so any SQL engine reproduces the cell
    map. One matmul per Arrow batch; nothing is shuffled here."""
    from pyspark.sql import types as T

    cols = keep + [vec_col]
    out_schema = T.StructType(
        [df.schema[c] for c in cols] + [T.StructField("_cell", T.LongType())]
    )

    @on_python_worker
    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            dots = _exact_matmul(_scaled(pdf[vec_col]), cmat)  # (n, C) exact int64
            if n_top == 1:
                top = np.argmax(dots, axis=1)[:, None]
            else:  # n_top past the centroid count probes every cell
                top = np.argsort(-dots, axis=1, kind="stable")[:, :n_top]
            rows = pdf[cols].iloc[np.repeat(np.arange(len(pdf)), top.shape[1])]
            yield rows.assign(_cell=cid[top].reshape(-1))

    return df.select(*cols).mapInPandas(gen, schema=out_schema)


def ivf_assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    id_cols: list[str] | str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "vec_id",
    max_centroids: int = 65_536,
) -> DataFrame:
    """(ids..., embedding, _cell): every vector's IVF cell — argmax
    integer dot against the centroid set, smallest-cid tie-break (the
    exact cell map ivf_topk computes inline). Factored out so a
    continuously-curated corpus can MAINTAIN the assignment table
    instead of re-assigning 10^9 vectors per query batch
    (VERDICT r5 #5). One matmul + argmax per Arrow batch; the corpus is
    scanned once, never shuffled here."""
    ids = [id_cols] if isinstance(id_cols, str) else list(id_cols)
    cid, cmat = _centroid_matrix(centroids, centroid_id_col, vec_col, max_centroids)
    return _with_cells(vectors, ids, vec_col, cid, cmat)


def update_ivf_assignments(
    assignments: DataFrame,
    changed: DataFrame,
    centroids: DataFrame,
    id_cols: list[str] | str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "vec_id",
    deleted_col: str | None = None,
    max_centroids: int = 65_536,
) -> DataFrame:
    """Incremental IVF maintenance (VERDICT r5 #5): the cell-assignment
    table follows a continuously-curated corpus at O(changed vectors)
    per batch. `changed` carries the batch's per-key net vector state —
    (ids..., embedding[, deleted_col]) — e.g. the embedding
    SignatureStore changelog: every changed key is EVICTED from the
    stored assignments (null-safe anti join on the ids both tables are
    keyed by), live changed keys re-assign with one matmul over just
    those rows, deleted keys simply leave. The result equals
    `ivf_assign_cells(final_corpus)` for a fixed centroid set — the
    differential the tests pin. Centroid drift is the retrain trigger's
    job (`ivf_needs_retrain`), not this function's."""
    ids = [id_cols] if isinstance(id_cols, str) else list(id_cols)
    kept = _evict(assignments.select(*ids, vec_col, "_cell"), changed, ids)
    live = changed
    if deleted_col is not None:
        live = live.filter(~F.col(deleted_col))
    fresh = ivf_assign_cells(
        live.select(*ids, vec_col), centroids, ids, vec_col,
        centroid_id_col, max_centroids,
    )
    return kept.unionByName(fresh)


def ivf_cell_balance(assignments: DataFrame, n_centroids: int) -> dict:
    """Cell-balance health of a maintained IVF assignment table: one
    narrow groupBy over `_cell`. skew = max cell size / mean NON-EMPTY
    cell size; `empty_frac` = fraction of the centroid set owning no
    vectors. A drifted corpus concentrates into few cells — probe cost
    grows toward brute force — which is the RETRAIN signal."""
    rows = assignments.groupBy("_cell").count().collect()
    sizes = [int(r["count"]) for r in rows]
    if not sizes:
        return {"n_vectors": 0, "max_cell": 0, "mean_cell": 0.0, "skew": 0.0,
                "empty_frac": 1.0}
    mean = sum(sizes) / len(sizes)
    return {
        "n_vectors": sum(sizes),
        "max_cell": max(sizes),
        "mean_cell": round(mean, 2),
        "skew": round(max(sizes) / mean, 3),
        "empty_frac": round(1.0 - len(sizes) / max(n_centroids, 1), 4),
    }


def ivf_needs_retrain(
    assignments: DataFrame,
    n_centroids: int,
    max_skew: float = 8.0,
    max_empty_frac: float = 0.5,
) -> bool:
    """Retrain trigger keyed on cell-balance skew (VERDICT r5 #5): True
    when the hottest cell exceeds `max_skew`x the mean occupied cell,
    or more than `max_empty_frac` of the centroids own nothing — both
    say the quantizer no longer matches the corpus distribution. On
    True: train_centroids on the current corpus, ivf_assign_cells once
    (full), resume incremental maintenance."""
    bal = ivf_cell_balance(assignments, n_centroids)
    if bal["n_vectors"] == 0:
        return False
    return bal["skew"] > max_skew or bal["empty_frac"] > max_empty_frac


def train_centroids(
    vectors: DataFrame,
    n_centroids: int = 256,
    max_iter: int = 10,
    seed: int = 42,
    sample_fraction: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Trained IVF quantizer: distributed k-means (pyspark.ml) over the
    corpus (or a `sample_fraction` of it — standard practice at 10^9
    vectors: the quantizer needs a representative sample, not the full
    set). Returns a (id, vec) centroid DataFrame that plugs straight
    into `ivf_topk(centroids=...)`; centroid ids are 0..k-1, so the
    operator's smallest-id tie-break stays deterministic for a fixed
    model. Trained centroids buy a few recall points over the
    deterministic sampled quantizer at equal cell count (the default
    stays sampled — it is SQL-mirrorable for the oracle gate)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    src = vectors
    if sample_fraction is not None:
        src = src.sample(fraction=sample_fraction, seed=seed)
    # SPHERICAL k-means: ivf_topk assigns cells by max DOT PRODUCT, but
    # vanilla euclidean k-means optimizes a different partition (argmin
    # ||x-c||^2 = argmax x.c - ||c||^2/2 — centroid norms skew the dot
    # argmax). Normalizing training vectors AND the returned centers
    # makes the dot-product assignment the cosine cell, which is the
    # partition the training actually optimized.
    norm = F.sqrt(
        F.aggregate(
            F.col(vec_col).cast("array<double>"),
            F.lit(0.0),
            lambda a, x: a + x * x,
        )
    )
    # guard the all-zero embedding (failed/empty upstream encode): x/0
    # yields NULL elements and KMeans.fit dies on the whole job
    norm = F.greatest(norm, F.lit(1e-12))
    unit = F.transform(F.col(vec_col).cast("array<double>"), lambda x: x / norm)
    feats = src.select(array_to_vector(unit).alias("_v"))
    model = KMeans(k=n_centroids, maxIter=max_iter, seed=seed, featuresCol="_v").fit(feats)
    spark = vectors.sparkSession
    rows = []
    for i, c in enumerate(model.clusterCenters()):
        n = float(np.linalg.norm(c)) or 1.0
        rows.append((i, [float(x) / n for x in c]))
    return spark.createDataFrame(rows, schema=f"{id_col} long, {vec_col} array<double>")


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    centroids: DataFrame | None = None,
    centroid_mod: int = 37,
    max_centroids: int = 65_536,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    corpus_cells: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat ANN (the inverted-file structure FAISS popularized):
    coarse-quantize the corpus into cells around a small centroid set,
    then score each query exactly against only its `n_probe` nearest
    cells.

    `corpus_cells` — a MAINTAINED assignment table (ivf_assign_cells /
    update_ivf_assignments output: ids, vec, `_cell`) replaces the
    per-call corpus assignment scan entirely: on a continuously-curated
    corpus the query path then touches only the probe join, and corpus
    assignment cost is O(changed vectors)/commit instead of O(corpus)/
    query batch (VERDICT r5 #5). Must have been assigned against the
    SAME centroid set passed here.

    The default quantizer is DETERMINISTIC SAMPLING — every corpus
    vector with `id % centroid_mod == 0` becomes a centroid ("random
    centroids", the k-means-free IVF variant; recall is a few points
    below trained centroids at equal cell counts). Pass `centroids=`
    (id, vec) to swap in trained ones without changing the plan. The
    deterministic default is also what makes the operator fully
    SQL-mirrorable for the correctness oracle.

    Plan shape at 10^9 vectors: centroids are metadata-scale (N/mod),
    collected once and shipped in task closures (guarded, like
    brute_force_topk's query set); cell assignment is ONE integer
    matmul + argmax per Arrow batch — the corpus is scanned once and
    shuffles only for the _cell equi-join; queries broadcast. Ties in
    the argmax break toward the smallest centroid id (stable argsort
    over a cid-sorted matrix) so any SQL engine reproduces the exact
    cell map.
    """
    cents = centroids if centroids is not None else vectors.filter(
        F.col(id_col) % centroid_mod == 0
    )
    cid, cmat = _centroid_matrix(cents, id_col, vec_col, max_centroids)
    if corpus_cells is not None:
        corpus = corpus_cells.select(id_col, vec_col, "_cell")
    else:
        corpus = _with_cells(vectors, [id_col], vec_col, cid, cmat)
    probes = _with_cells(
        queries, [query_id_col], vec_col, cid, cmat, n_probe
    ).withColumnRenamed(vec_col, "_qvec")
    cand = corpus.join(F.broadcast(probes), "_cell")
    scored = cand.select(
        F.col(query_id_col),
        F.col(id_col).alias("neighbor_id"),
        dot_int_arrow(F.col(vec_col), F.col("_qvec")).alias("dot_scaled"),
    )
    return _rank_topk(scored, k, query_id_col)
