"""Graph analytics on plain DataFrames: PageRank over the
customer-supplier transaction graph.

Spark has no built-in PageRank; the operator shows the engine's
iterative-algorithm pattern on an entity graph (the kmeans
discipline, applied to a data-sized state vector):

- the EDGE LIST is the only data-sized reduction — lineitem x orders
  collapse to distinct (customer, supplier) pairs with interaction
  weights, symmetrized so the random walk has no dangling nodes;
- transition probabilities normalize by out-weight once, and the
  edge frame persists across iterations (re-read cost, not
  re-computation);
- each iteration is one equi-join + one aggregate ON THE REDUCED
  GRAPH GRAIN (nodes/edges, never lineitems); the edge frame is
  hash-clustered on the join key at persist time so the iteration
  joins are exchange-free on the edge side, and iterations chain
  lazily (plan depth is bounded by the PR_ITERS constant — r14
  removed the per-iteration eager localCheckpoint, which cost a
  materialization job and a driver barrier per iteration) — ranks
  are data-sized, so they stay distributed (collecting them per
  iteration would be a driver-side loop);
- ranks order by their ROUNDED value with a key tiebreak, so the
  top-k cut is deterministic and engine-neutral despite float
  summation order.

At 100 TB the edge reduction shards on the join key like any fact
aggregate; iterations shuffle |edges| rows on node id — the standard
distributed-PageRank cost, co-partitioned after the first exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.sources.tables import load_table

PR_DAMPING = 0.85
PR_ITERS = 5
PR_TOPN = 20


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric weighted edge list over customer/supplier nodes.
    Node ids disambiguate the two key spaces: customers map to
    2*custkey, suppliers to 2*suppkey + 1."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
            "w",
        )
    )
    fwd = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"), "w")
    rev = pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"), "w")
    return fwd.unionAll(rev)


def q_supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top suppliers by PageRank over the symmetrized
    customer-supplier interaction graph (damping 0.85, 5 fixed
    iterations, uniform start) — 'important' suppliers are those
    transacting with important customers, recursively, which plain
    volume ranking misses."""
    from projet_etl_spark.cache import lazy_persist

    edges = _edges(spark, sf_dir)
    outw = edges.groupBy("src").agg(F.sum("w").cast("long").alias("ow"))
    # persists are cache-tracked, not manually unpersisted, because
    # iterations execute at action time (below), not at build time.
    # An explicit repartition(src) here adds an exchange and runs the
    # same jobs and stages no faster (sf0.1, 4 cores)
    norm = lazy_persist(
        edges.join(outw, "src")
        .select("src", "dst", (F.col("w").cast("double") / F.col("ow").cast("double")).alias("p"))
    )
    nodes = lazy_persist(norm.select(F.col("src").alias("node")).distinct())
    n_total = nodes.count()  # bounded: one long for the uniform terms
    if n_total == 0:
        # empty graph (late/empty upstream partition): empty ranking,
        # same schema
        return spark.createDataFrame(
            [], "s_suppkey long, s_name string, rank_norm double"
        )
    ranks = nodes.select("node", F.lit(1.0 / n_total).alias("r"))
    for _ in range(PR_ITERS):
        contrib = (
            norm.join(ranks, F.col("src") == F.col("node"))
            .groupBy("dst")
            .agg(F.sum(F.col("p") * F.col("r")).alias("m"))
        )
        # symmetric graph: every node has in-edges, so the join-back
        # is total and no dangling-mass correction is needed
        # r14: the per-iteration eager localCheckpoint is gone — it
        # cost one materialization job + a driver barrier per
        # iteration and erased the partitioning AQE uses. Plan depth
        # stays bounded by the PR_ITERS constant (5), so the
        # constant-depth concern the checkpoint addressed does not
        # apply at this fixed iteration count; measured −0.5-0.6 s
        # median in two interleaved A/Bs (OPTIMIZATION_r14.md)
        ranks = contrib.select(
            F.col("dst").alias("node"),
            (F.lit((1.0 - PR_DAMPING) / n_total) + PR_DAMPING * F.col("m")).alias("r"),
        )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    out = (
        ranks.filter(F.col("node") % 2 == 1)
        .select(((F.col("node") - 1) / 2).cast("long").alias("s_suppkey"), "r")
        .join(F.broadcast(supp), "s_suppkey")
        .select(
            "s_suppkey",
            "s_name",
            # rank relative to uniform (mean 1.0) — scale-invariant
            # resolution at 6 dp regardless of node count; the
            # rounded value is the sort key, so the top-k cut can
            # never depend on sub-rounding float noise
            F.round(F.col("r") * F.lit(float(n_total)), 6).alias("rank_norm"),
        )
        .orderBy(F.desc("rank_norm"), F.asc("s_suppkey"))
        .limit(PR_TOPN)
    )
    # persists are released by cache.release_caches (they must outlive
    # this builder: the iteration joins execute at action time now)
    return out
