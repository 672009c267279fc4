"""Sequence packing: fill fixed token-budget bins with documents — the
step between a curated corpus and a pretraining dataloader (maximizing
tokens per context window instead of padding).

Exact global bin packing is NP-hard and inherently serial; the
distributed shape used here is the standard one: documents are hashed
into independent PACKING GROUPS of bounded size, and a greedy
first-fit-decreasing pass runs inside each group (applyInPandas — one
shuffle on the group key, packing itself is in-memory per group).
Packing quality loses only at group boundaries (a few percent for
group_size >> budget/avg_doc_tokens); groups are independent, so the
operator scales linearly with the corpus and no bin ever crosses an
executor. Deterministic: groups come from a stable hash of the doc id,
order within a group is (tokens desc, id) — same corpus, same bins, on
any cluster layout.

Oversized docs (n_tokens > budget) get a singleton bin (callers decide
whether to chunk them upstream); empty docs pack normally.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bingo2sql_spark.session import on_python_worker


def pack_sequences(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    group_docs: int = 10_000,
    salt: str = "pack",
    group_col: str | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, group, bin_id, bin_tokens): every doc assigned
    to exactly one bin; sum(tokens) per bin <= budget except singleton
    oversized docs. bin_id is globally unique (group * 2^32 + local).

    `group_col` pins the packing group to a caller-provided column
    (must be bounded-size per group) instead of the count-derived hash
    split — also skips the count() pre-pass, so the plan is a single
    shuffle on the group key with no extra source scan."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    if group_col is not None:
        src = docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(tokens_col).cast("long").alias("n_tokens"),
            F.col(group_col).cast("long").alias("group"),
        )
    else:
        src = docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(tokens_col).cast("long").alias("n_tokens"),
        )
        # deterministic group of bounded EXPECTED size: hash-space split by
        # a count-derived number of groups (one tiny pre-pass)
        total = src.count()
        groups = max(1, total // max(1, group_docs))
        src = src.withColumn(
            "group", F.pmod(F.xxhash64(F.lit(salt), F.col("doc_id")), F.lit(groups))
        )

    @on_python_worker
    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["n_tokens", "doc_id"], ascending=[False, True])
        bins: list[int] = []  # remaining capacity per open bin
        assign = []
        for t in pdf["n_tokens"]:
            t = int(t)
            placed = None
            if t <= budget:
                for i, rem in enumerate(bins):
                    if rem >= t:
                        placed = i
                        bins[i] = rem - t
                        break
            if placed is None:
                bins.append(max(budget - t, 0) if t <= budget else 0)
                placed = len(bins) - 1
            assign.append(placed)
        g = int(pdf["group"].iloc[0])
        pdf = pdf.assign(bin_id=[g * (1 << 32) + a for a in assign])
        pdf["bin_tokens"] = pdf.groupby("bin_id")["n_tokens"].transform("sum")
        return pdf[["doc_id", "n_tokens", "group", "bin_id", "bin_tokens"]]

    return src.groupBy("group").applyInPandas(
        pack,
        schema="doc_id long, n_tokens long, group long, bin_id long, bin_tokens long",
    )
