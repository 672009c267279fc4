import sys, io, os, re
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from bingo2sql_spark.session import get_spark
from pyspark.sql import functions as F

spark = get_spark("plans")
sf = "/root/testdata/sf0.01"
import __spark_entry__ as E

sections = []

def add(title, df, note):
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # keep the operator tree + a trimmed details section
    head, _, details = plan.partition("\n\n")
    keep = []
    for para in details.split("\n\n"):
        if re.search(r"PushedFilters|PartitionFilters|ReadSchema|Arguments: \[?hashpartitioning|Functions \[partial_", para):
            keep.append(para)
    sections.append((title, head, "\n\n".join(keep[:6]), note))

# 1. the merge batch projection (replay's shuffle input)
import tempfile
from bingo2sql_spark.sources.synth import generate_events, to_raw
from bingo2sql_spark.sources.decode import decode_events
from bingo2sql_spark.operators import resolve as R
# sample inputs and the commit's table; removed when the script ends
tmp = tempfile.TemporaryDirectory()
d = tmp.name
to_raw(generate_events(spark, n_keys=2000, versions_per_key=4)).write.mode("overwrite").parquet(d + "/raw")
raw = spark.read.parquet(d + "/raw")
from pyspark.sql.readwriter import DataFrameWriter
from bingo2sql_spark.operators.apply import IcebergLiteTable
batch = R.to_upsert_rows(R.with_key(decode_events(raw.filter("op <> 'ddl'"), before_fields=["repo", "path"])))
# the plan a fresh-table commit hands to its parquet write
captured, parquet = [], DataFrameWriter.parquet
DataFrameWriter.parquet = lambda self, *a, **k: (captured.append(self._df), parquet(self, *a, **k))[1]
IcebergLiteTable(d + "/table", n_buckets=64).commit(batch, "plans")
DataFrameWriter.parquet = parquet
add("CDC replay: decode -> upsert projection -> single-exchange MERGE", captured[0],
    "The before image parses ONLY the merge keys (narrow from_json). On a fresh "
    "table the stored side of the merge union is an empty LocalRelation the "
    "optimizer drops, and the batch's row counts ride the job as an Observation "
    "(CollectMetrics). The union is "
    "repartitioned by bucket_slot (the ONLY full-data exchange; no partition "
    "count, so AQE coalesces it; the slot deals the buckets round-robin over "
    "the initial partitions) and the LWW aggregate groups by (bucket_slot, "
    "bucket, keys) — the slot is a function of the bucket and the bucket of the "
    "keys, so that partitioning satisfies the aggregate's clustered distribution "
    "and Catalyst plans NO second shuffle; rows reach the pbucket-partitioned "
    "write already clustered (one file per bucket).")

# 1a. the MOR commit at max_delta_depth: one merge folds every delta
mor = IcebergLiteTable(d + "/mor", n_buckets=64, write_mode="mor", max_delta_depth=1)
mor.commit(batch.filter("_seq % 2 = 0"), "delta")
captured.clear()
DataFrameWriter.parquet = lambda self, *a, **k: (captured.append(self._df), parquet(self, *a, **k))[1]
mor.commit(batch.filter("_seq % 2 = 1"), "fold")
DataFrameWriter.parquet = parquet
add("MOR compacting commit: stored base ∪ deltas ∪ batch -> one MERGE", captured[0],
    "A merge-on-read commit onto a table whose longest delta list already holds "
    "max_delta_depth entries folds instead of appending: the stored scan (every "
    "base and delta file, unresolved, in one FileScan) and the batch union into "
    "the same single bucket exchange and max_by aggregate as a copy-on-write "
    "merge, and the output is written as fresh bases. compact() runs this plan "
    "without the batch side. Before, the commit wrote a delta and compact() "
    "read it straight back through its own aggregate exchange plus a second "
    "repartition.")

# 1b. typed-wire decode: pure projection + nested-schema pruning
from bingo2sql_spark.sources.synth import to_raw_typed
from bingo2sql_spark.sources.decode import decode_events_typed
spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
to_raw_typed(generate_events(spark, n_keys=2000, versions_per_key=4)).write.mode("overwrite").parquet(d + "/typed")
typed_raw = spark.read.parquet(d + "/typed")
add("typed-wire decode (RAW_EVENT_TYPED): projection only, pruned before image",
    decode_events_typed(typed_raw.filter("op <> 'ddl'"), before_fields=["repo", "path"]),
    "The recommended landing at scale: the binlog is binary, so a connector that "
    "keeps values typed end-to-end makes decode a pure codegen projection (no "
    "from_json anywhere in the plan). With the before image narrowed to the merge "
    "keys, nested-schema pruning reaches the scan: ReadSchema carries "
    "before:struct<repo,path> only — the before payload bytes (content dominates) "
    "are never read off disk. The presence probe reads a key FIELD, not the "
    "struct root, which would have forced the full struct read.")
spark.conf.unset("spark.sql.maxMetadataStringLength")

from bingo2sql_spark.functions.render import render_sql_inline
env = decode_events(raw)  # rendering needs the FULL before image (minimal SET diff)
add("render_sql_inline (de-skewed multi-row INSERT batching)", render_sql_inline(env.filter("op <> 'ddl'")),
    "Run ids come from per-block windows (hashpartitioning(_blk), bounded by "
    "block_size) patched by ONE carry over the per-block rows (N/block_size), "
    "broadcast once (the carry's aggregate runs on a narrow (seq, op, db, table) "
    "block window that is already partitioned by _blk, so it adds no exchange), "
    "and non-insert rows render straight from the events. The chunk id is seq "
    "arithmetic — NO per-run window, so a bulk-load run of 10^10 inserts spreads "
    "across (run, chunk) groups capped at batch_rows.")

qs = E.queries()
add("dedup_simhash_pairs (64-bit banded probe tables)", qs["dedup_simhash_pairs"](spark, sf),
    "Production-width SimHash: the persisted per-doc signature table feeds 4 "
    "band probes/doc (constant, vs n_bits flip probes); candidates come from "
    "band-bucket equi-joins (pigeonhole-complete for hamming <= bands-1) and "
    "exact 64-position verification filters them — never all-pairs. Degenerate "
    "band buckets drop through a broadcast LEFT ANTI join against the over-full "
    "buckets' count, so the band rows keep their partitioning into the pair join.")
add("dedup_embedding_cosine (SRP buckets + probes -> per-bucket matmul)", qs["dedup_embedding_cosine"](spark, sf),
    "Besides the bucket cap's small count aggregate (broadcast back as a LEFT ANTI "
    "join), the only exchange is hashpartitioning on the bucket code; pair scoring "
    "is one chunked numpy matmul per bucket inside FlatMapGroupsInPandas — no "
    "per-pair expression ever runs.")
add("dedup_minhash_lsh_pairs (banded LSH)", qs["dedup_minhash_lsh_pairs"](spark, sf),
    "Signatures come from k min() aggregates in ONE codegen groupBy over exploded "
    "shingles; the band-digest equi-join is the only pair-producing shuffle (AQE "
    "skew-join handles hot bands). max_bucket_size drops degenerate bands with a "
    "count window over the band exchange, which the pair join reuses.")
add("cdc_output_decoration (blocked lag, no global window)", qs["cdc_output_decoration"](spark, sf),
    "The data-path window sits on rangepartitioning(_blk), the one exchange the SQL "
    "artifact's (_blk, seq) order reuses; the single-partition window only runs on "
    "the per-block carry aggregate (N/65536 rows), which is broadcast whole.")
add("join_revenue_by_nation (fact join + broadcast dims)", qs["join_revenue_by_nation"](spark, sf),
    "nation/region resolve as BroadcastHashJoin; only the fact-fact join shuffles.")
add("curate_corpus (composed curation)", qs["curate_corpus"](spark, sf),
    "Quality/lang/sample gates are pure predicates above the scan; the dedup-keeper "
    "semi-join is the single shuffle.")
add("curate_decontaminate (train/eval n-gram overlap)", qs["curate_decontaminate"](spark, sf),
    "The eval shingle set is benchmark-sized and BROADCAST; the corpus side is one "
    "exploded-shingle projection + broadcast join + per-doc hit count — no "
    "corpus-sized wide exchange, which is what makes decontamination affordable "
    "against a 100 TB training corpus.")

cores = spark.sparkContext.defaultParallelism
out = io.StringIO()
out.write("""# PLANS — physical-plan audit of the hot paths

Generated from live `explain(formatted)` at sf0.01 on local[%d]
(regenerate: `SPARK_GRAFT_CPUS=%d python docs/gen_plans.py`; exchange
partition counts follow the core count). For each plan: the operator
tree, the load-bearing scan/exchange details, and why this is the plan we want
at 100 TB. Plan-shape INVARIANTS are enforced by
tests/test_plan_quality.py — this file is the human-readable audit.

""" % (cores, cores))
for title, head, details, note in sections:
    out.write(f"## {title}\n\n{note}\n\n```\n{head.strip()}\n```\n\n")
    if details.strip():
        out.write(f"Key scan/exchange details:\n\n```\n{details.strip()[:2500]}\n```\n\n")
open(os.path.join(REPO, "docs", "PLANS.md"), "w").write(out.getvalue())
tmp.cleanup()
print("WROTE", len(out.getvalue()))
