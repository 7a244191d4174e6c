"""Distributed k-means (Lloyd's algorithm) over the embeddings table.

The iterative-refinement counterpart to the one-shot medoid centroids
the IVF index uses (operators/similarity.py): assignment is a
map-only pass against broadcast centroids, the update step is one
aggregation, and the loop runs driver-side over a model of size K —
the canonical "small model, big data" iteration shape (same family
as connected components in operators/clusters.py, but with a fixed
iteration count instead of a fixpoint test).

Scale design (100 TB):
- Centroids (K × DIM doubles) live driver-side and ride into the
  assignment expression as literals — broadcast by value, never a
  join. The per-iteration ``collect()`` is K × DIM aggregated sums,
  NOT data rows; the corpus is never collected.
- The assignment distance uses the fold form (zip_with + aggregate)
  per centroid: K generated 64-term sums per row would stall
  whole-stage codegen compilation (docs/SCALE.md wide-expression
  cliff), while K folds plan instantly and keep the same
  left-associated float order.
- The update step reduces the corpus to (cluster, dim) partial sums
  map-side; shuffle volume is K × DIM per partition regardless of
  corpus size.
- Ties and empty clusters are deterministic: argmin breaks ties
  toward the LOWEST cluster id (struct array_min), and a cluster
  that loses all members keeps its previous centroid.

Two twins: the float library variant (``kmeans_fit``, pinned by
tests/test_kmeans.py against a NumPy reference — float sums have
partition-dependent merge order, so no SQL oracle is possible) and
the REGISTERED fixed-point variant (``kmeans_fit_q``), whose exact
BIGINT arithmetic replays bit-identically in the DuckDB oracle
(plans/extensions.py generates the K x ITERS CTE chain from the
same constants).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.functions.vectors import DIM
from projet_etl_spark.sources.tables import load_table

K_CLUSTERS = 8
KMEANS_ITERS = 3


def _dist2_to(centroid: list[float], v: str = "v") -> Column:
    """Squared euclidean distance from array column ``v`` to a
    centroid literal, as a fold (tiny expression tree)."""
    c = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(
            F.col(v), c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def assign_clusters(emb: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """(vec_id, v, cluster): nearest centroid, ties to lowest id."""
    scored = F.array(
        *[
            F.struct(
                _dist2_to(c).alias("d"), F.lit(i).cast("long").alias("c")
            )
            for i, c in enumerate(centroids)
        ]
    )
    best = F.array_min(scored)
    return emb.select(
        "vec_id", "v", best.getField("c").alias("cluster"), best.getField("d").alias("dist2")
    )


def kmeans_fit(
    spark: SparkSession,
    sf_dir: str,
    k: int = K_CLUSTERS,
    iters: int = KMEANS_ITERS,
) -> tuple[list[list[float]], DataFrame]:
    """Run ``iters`` Lloyd iterations; returns (centroids, final
    assignment DataFrame). Init = the first ``k`` vectors by vec_id
    (deterministic, shared with the NumPy reference)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    centroids = [
        [float(x) for x in r.v]
        for r in emb.orderBy("vec_id").limit(k).collect()
    ]
    for _ in range(iters):
        assigned = assign_clusters(emb, centroids)
        # per-(cluster, dim) sums: posexplode then one hash agg;
        # K x DIM result rows — the model update, not a data collect
        sums = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.sum(F.col("x").cast("double")).alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = [list(c) for c in centroids]  # empty clusters keep position
        acc: dict[int, list[float]] = {}
        cnt: dict[int, int] = {}
        for r in sums:
            acc.setdefault(r.cluster, [0.0] * DIM)[r.pos] = r.s
            cnt[r.cluster] = r.n
        for ci, vec in acc.items():
            new[ci] = [x / cnt[ci] for x in vec]
        centroids = new
    return centroids, assign_clusters(emb, centroids)


# ---- fixed-point (oracle-exact) twin --------------------------------
#
# Quantizing the embeddings to 1e-6 fixed point turns every Lloyd
# quantity into exact BIGINT arithmetic: squared distances are
# integer sums (|x_q| <= ~2e6, so a 64-dim dist2 < 2^52 — no
# overflow), the centroid update is an integer half-away-from-zero
# division, and argmin/tie-break compare integers. Nothing depends
# on float partial-sum merge order, so the SAME K x ITERS iteration
# replays bit-identically in DuckDB SQL (plans/extensions.py builds
# the oracle's CTE chain from these constants) — which is what makes
# a clustering ALGORITHM oracle-able at all. The only floats are the
# deterministic per-value quantization (floor(x*1e6 + 0.5) — IEEE
# ops, identical everywhere) and one final sum/count division of
# exact longs.

KMEANS_SCALE = 1_000_000


def _quantized(emb: DataFrame) -> DataFrame:
    """(vec_id, q): embeddings as 1e-6 fixed-point BIGINT arrays."""
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(
            x.cast("double") * F.lit(float(KMEANS_SCALE)) + F.lit(0.5)
        ).cast("long"),
    )
    return emb.select("vec_id", q.alias("q"))


def assign_clusters_q(emb_q: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """(vec_id, q, cluster, dist2): nearest integer centroid, ties to
    the lowest cluster id (struct array_min compares d then c).

    The centroids ride in a ONE-ROW broadcast relation instead of
    plan literals: every Lloyd iteration then reuses the SAME
    physical plan (identical generated code → Janino cache hit, no
    per-iteration whole-stage recompile — measured ~2× faster loops
    at toy scale, and the iterative-ML discipline at any scale: model
    updates change broadcast DATA, never the plan). Assignment stays
    map-only: the cross join is 1 row, scoring folds over the
    broadcast array-of-centroids per row, and the struct array_min
    keeps the exact (d, then c) tie-break of the literal form — the
    arithmetic is bit-identical, so the DuckDB oracle is unchanged.
    """
    spark = emb_q.sparkSession
    cents = spark.createDataFrame(
        [([list(c) for c in centroids],)], "cs array<array<bigint>>"
    )
    scored = F.transform(
        F.col("cs"),
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(F.col("q"), c, lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("long"),
                lambda acc, t: acc + t,
            ).alias("d"),
            i.cast("long").alias("c"),
        ),
    )
    best = F.array_min(scored)
    return emb_q.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "q",
        best.getField("c").alias("cluster"),
        best.getField("d").alias("dist2"),
    )


def _round_div(s: int, n: int) -> int:
    """Half-away-from-zero integer division s/n (n > 0) — the same
    value DuckDB's CASE/// formula in the oracle produces."""
    if s >= 0:
        return (2 * s + n) // (2 * n)
    return -((-2 * s + n) // (2 * n))


def kmeans_fit_q(
    spark: SparkSession,
    sf_dir: str,
    k: int = K_CLUSTERS,
    iters: int = KMEANS_ITERS,
) -> tuple[list[list[int]], DataFrame]:
    """Lloyd iterations in 1e-6 fixed point; returns (integer
    centroids, final assignment). Same shape as ``kmeans_fit``: the
    per-iteration collect is the K x DIM model update, never data."""
    from projet_etl_spark.cache import eager_persist

    # cache the quantized corpus once — every Lloyd pass re-reads it
    # (the canonical iterative-ML persist; at cluster scale this is
    # MEMORY_AND_DISK across executors, not a driver copy)
    emb_q = eager_persist(
        _quantized(
            load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        )
    )
    centroids = [
        [int(x) for x in r.q] for r in emb_q.orderBy("vec_id").limit(k).collect()
    ]
    for _ in range(iters):
        assigned = assign_clusters_q(emb_q, centroids)
        sums = (
            assigned.select("cluster", F.posexplode("q").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = [list(c) for c in centroids]  # empty clusters keep position
        for r in sums:
            new[r.cluster][r.pos] = _round_div(int(r.s), int(r.n))
        centroids = new
    return centroids, assign_clusters_q(emb_q, centroids)


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster sizes and within-cluster squared distance (fixed-point
    units) after KMEANS_ITERS Lloyd iterations — the registered,
    oracle-exact clustering query. mean_dist2 divides two exact
    BIGINTs in one IEEE op, so even it is bit-equal cross-engine."""
    _, assigned = kmeans_fit_q(spark, sf_dir)
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum("dist2").cast("long").alias("sum_dist2"),
        )
        .select(
            "cluster",
            "n_vectors",
            "sum_dist2",
            (F.col("sum_dist2").cast("double") / F.col("n_vectors").cast("double")).alias(
                "mean_dist2"
            ),
        )
        .orderBy("cluster")
    )
