import sys, io, re
sys.path.insert(0, __import__("os").path.dirname(__import__("os").path.dirname(__import__("os").path.abspath(__file__))))
from pyspark.sql import functions as F
from new_ent_crawler_spark.session import get_spark
import __spark_entry__ as e

spark = get_spark(app="plans", cpus=2)
sf = "/root/testdata/sf0.01"
qs = e.queries()

def plan_of(df):
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

sections = []
def add(title, df, commentary):
    p = plan_of(df)
    # trim the long column lists for readability
    p = re.sub(r"(Output|Input|Arguments|Results) \[\d+\]: \[[^\]]{120,}\]",
               lambda m: m.group(0)[:140] + " …]", p)
    sections.append((title, commentary, p))

add("TPC-H q3: pushdown + broadcast + partial agg + TakeOrdered",
    qs["tpch_q3"](spark, sf),
    "The segment filter reaches the customer scan as PushedFilters, the two "
    "joins keep lineitem unshuffled until the aggregation, HashAggregate "
    "runs partial (map-side) before the exchange, and orderBy+limit "
    "compiles to TakeOrderedAndProject — no global sort.")

add("Frontier dequeue: salted two-phase per-host top-K",
    __import__("new_ent_crawler_spark.operators.frontier", fromlist=["dequeue"]).dequeue(
        spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
        .selectExpr("cast(o_orderkey as string) url", "cast(o_custkey % 37 as string) host",
                    "0 status", "0 crawler_count", "1 priority", "0 depth",
                    "0 page_type_score", "cast(0 as long) enqueue_wave",
                    "'' keyword", "'' company", "cast(0 as long) seed_id"),
        spark.createDataFrame([(str(h), 5) for h in range(37)], "host string, grant int"),
        salt_buckets=8, max_attempts=3),
    "Phase 1 ranks within (host, salt) buckets so one hot registry domain "
    "spreads over salt_buckets tasks; phase 2 ranks the surviving "
    "K x salt_buckets rows per host. Two window exchanges over frontier "
    "metadata only — no page bytes in this shuffle.")

add("Seen-set: Bloom prune + exact left_anti",
    __import__("new_ent_crawler_spark.operators.dedup", fromlist=["filter_new_urls"]).filter_new_urls(
        spark.read.parquet(sf+"/customer.parquet").selectExpr("c_name url"),
        spark.read.parquet(sf+"/supplier.parquet").selectExpr("s_name url"),
        __import__("new_ent_crawler_spark.operators.dedup", fromlist=["BloomFilter"]).BloomFilter.sized(1000)),
    "Bloom-negative rows bypass the join entirely; only the suspect slice "
    "pays the anti-join. The md5 is evaluated JVM-side; the pandas UDF does "
    "numpy bit tests on the broadcast bitarray.")

add("As-of join: union + window, single exchange, no join operator",
    qs["asof_click_purchase"](spark, sf),
    "merge_asof semantics without a range join: both sides union, one "
    "exchange on the key, a running last(payload ignorenulls) window. "
    "Exactly one Exchange; no Join node at all.")

add("ngram-jaccard candidates: posting-list buckets",
    qs["ngram_jaccard_pairs"](spark, sf),
    "Per-doc distinct shingles are built IN-ROW (transform + "
    "array_distinct), so the per-character exploded relation never hits an "
    "exchange and doc sizes are a free F.size. One shuffle groups shingles "
    "into posting lists; the pair explosion is local per bucket and "
    "bounded by max_shingle_freq^2; frequent shingles are dropped before "
    "any pair is generated.")

add("MinHash signatures: zero-shuffle in-row array_min",
    qs["minhash_signatures"](spark, sf),
    "Each signature column is array_min(transform(shs, md5...)) over the "
    "in-row shingle array — no groupBy: min() over the exploded relation "
    "would shuffle one row per (doc, shingle) only to re-group what was "
    "already row-local. The whole signature stage is narrow.")

add("Salted skew join == plain join",
    qs["salted_skew_join"](spark, sf),
    "The fact side carries a deterministic salt, the dim side is exploded "
    "across the salt domain; the join key becomes (key, salt) so one hot "
    "key spreads over 8 tasks. The DuckDB oracle for this query is the "
    "UNSALTED join — equality is part of the correctness gate.")

add("Exact pair top-k: sharded GEMM instead of n² self-join",
    qs["embedding_pair_topk"](spark, sf),
    "Vectors shard by id into B blocks (one collect_list hash aggregate); "
    "the B(B+1)/2 block pairs join as a tiny broadcast nested loop over "
    "block METADATA rows, each pair scores with one numpy matmul inside "
    "mapInPandas and keeps a local top-k under the final total order, so "
    "only B²·k candidate rows reach TakeOrderedAndProject — the n²/2 "
    "scored-pair stream of the naive self-join never exists. The DuckDB "
    "oracle is still the naive n² join; equality is part of the "
    "correctness gate.")

from new_ent_crawler_spark.operators import linkgraph as LG
_edges = LG.derive_edges(spark.read.parquet(sf + "/events.parquet"))
add("PageRank: one power iteration (pre-checkpoint)",
    LG.pagerank(_edges, iterations=1, checkpoint=False),
    "One iteration's plan, shown without the localCheckpoint that "
    "production runs insert per iteration to truncate lineage. The rank "
    "update is: edges pre-weighted with out-degrees once (persisted, "
    "reused every iteration) join the O(V) rank table, then a partial "
    "(map-side) HashAggregate on dst carries per-partition contribution "
    "sums into ONE exchange; the dangling-mass term arrives as a 1-row "
    "BroadcastNestedLoopJoin (an aggregate broadcast back into the plan, "
    "not a per-iteration driver collect). At 10^10 edges the per-"
    "iteration cost is one E-side join + one V-sized shuffle; AQE turns "
    "the rank join into a broadcast when V fits.")

add("Registered domain (PSL): suffix explode + broadcast rules + argmax",
    qs["registered_domain"](spark, sf),
    "The publicsuffix rules dim joins as a BroadcastHashJoin against the "
    "exploded trailing-suffix candidates (≤ max-rule-depth per host), so "
    "the only real exchange is the per-host argmax aggregate — sized "
    "|distinct hosts|, never |pages|. The join-back to the input is left "
    "to AQE: broadcast at test scale, shuffled hash join at 10^8 hosts.")

add("Training shards: range-parallel global cumsum, no SinglePartition",
    qs["training_shards"](spark, sf),
    "The running token offset that drives shard_id is SUM(v) OVER "
    "(ORDER BY ...) rebuilt as a range exchange + per-partition window "
    "+ P-integer offset broadcast — the plan shows RangePartitioning "
    "and a partitionBy(_ntile_pid) window, never a SinglePartition "
    "exchange, so packing a 100 TB corpus keeps every executor busy.")

add("Dup-span stats: in-row span hashes, digest-only shuffles",
    qs["dup_span_stats"](spark, sf),
    "Rolling 20-token span hashes are built in-row (transform over "
    "sequence), so the first exchange already carries md5 digests, not "
    "text. The (hash,doc) -> hash -> doc aggregation ladder is "
    "map-side combinable at each step; a span repeated a million times "
    "collapses to one row per doc before the per-hash total is "
    "computed.")

add("CDX revisit classification: max-aggregate, no window sort",
    qs["cdx_revisit"](spark, sf),
    "Latest-previous-capture is ONE map-side-combinable max over the "
    "fixed-width ts14||'|'||digest string — a partial HashAggregate "
    "before the exchange, where a window row_number would force a full "
    "sort of every historical capture. The classify join is sized "
    "|urls|, not |captures|.")

with open("/root/repo/PLANS.md", "w") as f:
    f.write("# PLANS — physical-plan review of the core operators\n\n"
            "`explain(formatted)` output (sf0.01 inputs) with the design "
            "intent each plan is checked against; regenerate with "
            "`python docs_gen/gen_plans.py` (this file was produced by the "
            "script inlined in git history).  Plan-shape assertions live in "
            "tests/test_plans.py and tests/test_temporal.py.\n")
    for title, commentary, p in sections:
        f.write(f"\n## {title}\n\n{commentary}\n\n```\n{p}\n```\n")
print("sections:", len(sections))
spark.stop()
