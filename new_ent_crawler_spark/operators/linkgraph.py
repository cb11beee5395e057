"""Link-graph analytics over the crawl's discovered-link edges.

A web-scale frontier does not schedule URLs on depth alone: the reference
ranks listing pages before detail pages with a hand-tuned score
(spiders/worker.py:168-190's listing-before-detail ordering); the general
form of that signal on an open crawl is link-graph centrality.  This module
gives the engine the two standard graph signals a crawl scheduler consumes:

* :func:`degree_stats` — per-node in/out degree (one shuffle each side,
  full-outer stitched);
* :func:`pagerank` — damped PageRank by power iteration, with dangling-mass
  redistribution, expressed as pure DataFrame ops.

Scale design (the part that has to survive 10^10 edges):

* The edge table is joined with out-degrees ONCE, persisted, and reused by
  every iteration — the per-iteration work is one join of the O(V) rank
  table against the pre-weighted O(E) edges plus one ``groupBy(dst)``
  hash aggregate (map-side partial sums, so the shuffle carries per-
  partition partials, not per-edge contributions).
* The dangling-mass term is a 1-row aggregate ``crossJoin(broadcast(...))``
  — it stays in the plan as a BroadcastNestedLoopJoin over ONE row; no
  per-iteration driver collect.
* ``localCheckpoint(eager=True)`` truncates the lineage each iteration;
  without it the plan doubles per iteration and Catalyst analysis time
  blows up around iteration ~15 (the classic iterative-algorithm trap).
* Ranks are O(V) ≪ O(E); the rank-side of the join is the small side and
  AQE converts it to a broadcast join when V fits, while the E-side
  partitioning on ``src`` is reused across iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel


def derive_edges(events: DataFrame, n_src: int = 180,
                 n_nodes: int = 211) -> DataFrame:
    """Deterministic pseudo-random directed edge set from the events table.

    ``src = md5int('s:'||event_id) % n_src`` and
    ``dst = md5int('d:'||event_id) % n_nodes`` with ``n_src < n_nodes``, so
    nodes ``[n_src, n_nodes)`` can only be link TARGETS — true dangling
    (sink) nodes that exercise PageRank's dangling-mass redistribution.
    md5 is the hash both Spark and DuckDB share, so the same edge set is
    reproducible in the SQL oracle."""
    def _h(prefix: str):
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(prefix + ":"),
                                       F.col("event_id").cast("string"))),
                        1, 8), 16, 10).cast("long")

    return (events
            .select((_h("s") % n_src).alias("src"),
                    (_h("d") % n_nodes).alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct())


def degree_stats(edges: DataFrame) -> DataFrame:
    """Per-node out-degree and in-degree (0 when absent).

    Two hash aggregates (one per direction) + a full-outer stitch on the
    node key; both aggregates are map-side-combining so the shuffle volume
    is O(distinct nodes per partition), not O(E)."""
    out_d = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("out_deg"))
    in_d = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count("*").alias("in_deg"))
    return (out_d.join(in_d, "node", "full_outer")
            .select("node",
                    F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
                    F.coalesce("in_deg", F.lit(0)).alias("in_deg")))


def pagerank(edges: DataFrame, damping: float = 0.85,
             iterations: int = 5) -> DataFrame:
    """Damped PageRank with uniform dangling-mass redistribution.

    rank_{k+1}(v) = (1-d)/N + d * (Σ_{(u,v)∈E} rank_k(u)/outdeg(u)
                                   + dangling_k / N)

    where ``dangling_k`` is the total rank held by nodes with no out-edges.
    Returns ``(node, rank)`` summing to 1.0 (mass-conserving) after any
    number of iterations.  See the module docstring for the scale design;
    the only driver-side scalar is N (one count job before the loop)."""
    nodes = (edges.select(F.col("src").alias("node"))
             .unionByName(edges.select(F.col("dst").alias("node")))
             .distinct()
             .persist(StorageLevel.MEMORY_AND_DISK))
    out_deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # pre-weight the edges once: every iteration reuses this materialized
    # (src, dst, deg) table instead of re-joining out-degrees
    weighted = (edges.join(out_deg, "src")
                .persist(StorageLevel.MEMORY_AND_DISK))
    n = nodes.count()
    if n == 0:
        nodes.unpersist()
        weighted.unpersist()
        return nodes.withColumn("rank", F.lit(0.0))

    has_out = out_deg.select(F.col("src").alias("node"))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iterations):
        # 1-row dangling aggregate, broadcast back into the plan — no
        # collect(); nodes with no out-edges donate their mass uniformly
        dangling = (ranks.join(has_out, "node", "left_anti")
                    .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")))
        incoming = (weighted
                    .join(ranks.withColumnRenamed("node", "src"), "src")
                    .groupBy(F.col("dst").alias("node"))
                    .agg(F.sum(F.col("rank") / F.col("deg")).alias("m")))
        ranks = (nodes.join(incoming, "node", "left")
                 .crossJoin(F.broadcast(dangling))
                 .select("node",
                         (F.lit((1.0 - damping) / n)
                          + F.lit(damping)
                          * (F.coalesce(F.col("m"), F.lit(0.0))
                             + F.col("dm") / F.lit(float(n))))
                         .alias("rank")))
        # truncate lineage: without this the logical plan doubles per
        # iteration and analysis time dominates by iter ~15
        ranks = ranks.localCheckpoint(eager=True)
    nodes.unpersist()
    weighted.unpersist()
    return ranks


def centrality_host_boost(ranks: DataFrame, n_tiers: int = 4) -> DataFrame:
    """PageRank table → integer ``(host, boost)`` priority tiers.

    The frontier's total order is integer-valued (priority, depth,
    page_type_score, …; operators/frontier.py::_order_cols), so a float
    centrality can't feed it directly — and floats in an ordering key are
    a cross-run determinism hazard anyway.  This buckets the rank table
    into ``n_tiers`` exact NTILE tiers (via
    operators/ranking.py::distributed_ntile — range-parallel, no single-
    partition window) and returns ``boost`` in ``[0, n_tiers)`` with the
    HIGHEST-rank hosts getting the biggest boost.  The result is O(hosts)
    — broadcast-join it onto the frontier and add ``boost`` to
    ``page_type_score``: the open-web generalization of the reference's
    fixed listing-before-detail score (spiders/worker.py:168-190), which
    is the registry-specific special case of "fetch central pages first".
    Ties inside a tier keep the frontier's deterministic url tiebreak."""
    from .ranking import distributed_ntile
    tiled = distributed_ntile(ranks, n_tiers, ["rank", "node"])
    return tiled.select(F.col("node").alias("host"),
                        (F.col("tile") - 1).cast("int").alias("boost"))
